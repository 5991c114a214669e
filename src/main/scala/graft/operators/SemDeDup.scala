package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic
  * deduplication by CLUSTER-BOUNDED exact cosine search: k-means
  * partitions the embedding space, and near-duplicate pairs are only
  * sought WITHIN a cluster, turning the O(N²) all-pairs problem into
  * Σ|cluster|² work that the cluster count controls. This is the
  * third member of the embedding-dup triad and fills the gap between
  * the other two: the LSH family (`Similarity.embeddingDupPairs*`) is
  * sub-quadratic but recall-lossy by its banding contract, and the
  * tiled brute force (`Similarity.tiledBruteForcePairs`) is recall-1.0
  * but unconditionally quadratic — SemDeDup is recall-1.0 *within*
  * clusters and pays only for intra-cluster pairs, with the documented
  * miss mode being pairs split across a k-means boundary (measured as
  * `planted_drop_ppm` in the registered query: 62/63 planted clones at
  * sf0.01).
  *
  * Determinism contract: the similarity test runs in EXACT integer
  * arithmetic over [[FixedPointKMeans]]-quantized coordinates. The
  * shift is removed first (cosine over shifted coordinates would be
  * meaningless), so with u = q − QShift the test `cos(a,b) ≥ τ`
  * (τ = tauNum/tauDen) becomes
  *
  *   dot ≥ 0  ∧  dot²·tauDen² ≥ tauNum²·‖a‖²·‖b‖²
  *
  * with dot = Σ uₐuᵦ and ‖·‖² the unshifted squared norm — every term
  * an exact integer (|u| ≤ 1.6e7 per dim → dot, nsq ≤ 1.64e16 in
  * long; the ~115-bit squared comparison runs in the fused
  * [[graft.expressions.IntCosGe]] kernel — double fast path with a
  * guard band, exact BigInteger fallback at the boundary — and the
  * DuckDB oracle replays it in HUGEINT), so the drop set is
  * bit-identical in any engine. Zero vectors have undefined cosine
  * and never match (nsq > 0 guards both sides).
  *
  * Scale shape: one shuffle on the cluster key; per-vector norms are
  * computed BEFORE the join so the pair stream carries one fold (the
  * dot product) and no recomputed norms. With k = ⌊√N⌋ clusters
  * (the registered query's ladder) expected intra-cluster pair volume
  * is Θ(N^1.5) and centroid state is √N·d longs — sub-quadratic end
  * to end with no driver-side corpus state. Cluster-size skew is the
  * operator's honest failure mode (a cluster holding p·N of the
  * corpus contributes (pN)²/2 pairs); the published method's answer
  * is raising k (hierarchical k-means at extreme N), not capping —
  * a cap would silently break the dedup contract. */
object SemDeDup {

  /** Corpus-size threshold of the flat-vs-hierarchical ROUTER: below
    * it the flat ⌊√N⌋ Lloyd wins (fixed per-round job count dominates
    * the hierarchy at small N — measured 3.3 s flat vs 5.4 s two-level
    * steady at n = 22 500, sf1); at or above it the two-level fit +
    * coarse top-2 multi-probe wins BOTH axes (19.0 s vs 28.2 s steady
    * AND 94.4% vs 91.8% planted recall at n = 225 000, sf10 —
    * BENCH_SF10_PROBE_MP.json). The crossover is BRACKETED, not
    * interpolated (SCALING.md round-15): flat by 4% at n = 67 500, by
    * 8% at n = 101 250, 2l_mp by 1% at n = 144 000 — a plateau whose
    * ±1–8% gaps sit inside ambient scatter, so the steady-time
    * crossover lands between ~1.0e5 and ~1.44e5 and 1e5 routes onto
    * the path that also wins recall wherever time ties, at a worst
    * measured cost of ~8% inside the band. Both engines route on the
    * SAME integer count, so the decision — and with it the whole
    * clustering — is replayable. */
  val RouteMinTwoLevelN = 100000L

  /** True when the two-level + multi-probe path should serve a corpus
    * of `n` vectors ([[RouteMinTwoLevelN]]). */
  def routeTwoLevel(n: Long): Boolean = n >= RouteMinTwoLevelN

  /** The within-cluster pair stream EVERY flat drop rule evaluates:
    * unshift, fused self-dots, the strict id_a < id_b same-cluster
    * join, and the fused integer dot per surviving pair — WITHOUT any
    * threshold applied, so one pass can serve many τ rungs
    * ([[graft.analytics.CorpusStatsQueries]]' q_semdedup_sweep) or the
    * single shipped τ ([[droppedIds]], which shares this body so the
    * two surfaces cannot drift — the round-14 router lesson applied
    * to the pair join itself).
    *
    * Columns: (id_a, id_b, dot, nsq_a, nsq_b). `assigned` must carry
    * [[FixedPointKMeans.quantize]]d vectors in `vCol` and a cluster id
    * in `clusterCol`. */
  def pairStream(assigned: DataFrame, idCol: String, vCol: String,
      clusterCol: String): DataFrame = {
    val u = assigned.select(
      col(idCol).as("id"),
      col(clusterCol).as("cl"),
      transform(col(vCol), x => x - FixedPointKMeans.QShift).as("uv"))
      .withColumn("nsq", call_function("graft_dot_long", col("uv"), col("uv")))
    val a = u.select(col("id").as("id_a"), col("cl").as("cl_a"),
      col("uv").as("uv_a"), col("nsq").as("nsq_a"))
    val b = u.select(col("id").as("id_b"), col("cl").as("cl_b"),
      col("uv").as("uv_b"), col("nsq").as("nsq_b"))
    a.join(b, col("cl_a") === col("cl_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("graft_dot_long", col("uv_a"), col("uv_b")).as("dot"),
        col("nsq_a"), col("nsq_b"))
  }

  /** Ids DROPPED by SemDeDup over an already-clustered quantized
    * relation: a row's id is emitted iff a SMALLER-id member of the
    * same cluster has cosine ≥ tauNum/tauDen with it (the repo-wide
    * keep-first dedup convention — survivors are exactly the ids not
    * returned). `assigned` must carry [[FixedPointKMeans.quantize]]d
    * vectors in `vCol` and a cluster id in `clusterCol`.
    *
    * Returns a single-column DataFrame `id` (distinct). The whole
    * per-pair verify is two fused kernels: the integer dot (inside
    * [[pairStream]]) and the exact threshold decision
    * (graft_intcos_ge: double fast path + BigInteger boundary
    * fallback — bit-identical to the DECIMAL(38) comparison it
    * replaced, which paid three BigDecimal multiplies per pair and
    * dominated the sf10 pair stream). */
  def droppedIds(assigned: DataFrame, idCol: String, vCol: String,
      clusterCol: String, tauNum: Long, tauDen: Long): DataFrame = {
    require(tauDen > 0 && tauNum >= 0 && tauNum <= tauDen,
      s"SemDeDup: need 0 <= tauNum/tauDen <= 1, got $tauNum/$tauDen")
    pairStream(assigned, idCol, vCol, clusterCol)
      .filter(call_function("graft_intcos_ge",
        col("dot"), col("nsq_a"), col("nsq_b"), lit(tauNum), lit(tauDen)))
      .select(col("id_b").as("id"))
      .distinct()
  }

  /** [[droppedIds]] over an ASYMMETRIC multi-probe pair surface — the
    * recall-recovery form for the two-level fit: `prim` is every
    * vector's PRIMARY fine membership, `sec` the fine membership in its
    * runner-up coarse cell (where seeded). Pairs are sought between the
    * EXPANDED side (prim ∪ sec) and the primary side only — the
    * standard IVF query-side multi-probe shape: a near-dup pair split
    * by one coarse boundary meets when either side's runner-up fine
    * cell is the other's primary, which this surface covers in full;
    * the symmetric union's extra sec×sec surface (both vectors
    * outsiders to a THIRD cell) buys near-identical pairs almost
    * nothing and measured 5.4× the primary pair mass against this
    * form's ≤ Σ(p_f + s_f)·p_f ≈ 2× (sf10; SCALING.md, "Round-14:
    * coarse top-2 multi-probe recovers the two-level recall").
    *
    * Pair accounting: primary×primary keeps the strict id_a < id_b
    * half (each pair once — exactly [[droppedIds]]'s surface, so the
    * drop set is a superset of the single-probe one); secondary×primary
    * admits both orders (each side's runner-up can point at the other's
    * cell) normalized so the LARGER id is the drop candidate, with
    * duplicates collapsing in the final distinct. Both relations must
    * carry [[FixedPointKMeans.quantize]]d vectors in `vCol` and the
    * GLOBAL fine id in `clusterCol`. Returns distinct dropped `id`s. */
  def droppedIdsMultiProbe(prim: DataFrame, sec: DataFrame,
      idCol: String, vCol: String, clusterCol: String,
      tauNum: Long, tauDen: Long): DataFrame = {
    require(tauDen > 0 && tauNum >= 0 && tauNum <= tauDen,
      s"SemDeDup: need 0 <= tauNum/tauDen <= 1, got $tauNum/$tauDen")
    def prep(df: DataFrame, probe: Int) = df.select(
      col(idCol).as("id"),
      col(clusterCol).as("cl"),
      lit(probe).as("probe"),
      transform(col(vCol), x => x - FixedPointKMeans.QShift).as("uv"))
      .withColumn("nsq", call_function("graft_dot_long", col("uv"), col("uv")))
    // bind the primary projection ONCE: it feeds both the expanded side
    // and the whole b side, and rebuilding it would run the unshift +
    // self-dot kernels a second time over the full primary relation
    val p1 = prep(prim, 1)
    val m = p1.union(prep(sec, 2))
    val a = m.select(col("id").as("id_a"), col("cl").as("cl_a"),
      col("probe").as("probe_a"), col("uv").as("uv_a"), col("nsq").as("nsq_a"))
    val b = p1.select(col("id").as("id_b"), col("cl").as("cl_b"),
      col("uv").as("uv_b"), col("nsq").as("nsq_b"))
    a.join(b, col("cl_a") === col("cl_b") &&
        (col("id_a") < col("id_b") ||
          (col("probe_a") === 2 && col("id_a") =!= col("id_b"))))
      .filter(call_function("graft_intcos_ge",
        call_function("graft_dot_long", col("uv_a"), col("uv_b")),
        col("nsq_a"), col("nsq_b"), lit(tauNum), lit(tauDen)))
      .select(greatest(col("id_a"), col("id_b")).as("id"))
      .distinct()
  }
}
