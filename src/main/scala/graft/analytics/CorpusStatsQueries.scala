package graft.analytics

import graft.{GraftQuery, Tables}
import graft.functions.TextAnalysis
import graft.operators.DriverLoop
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-level statistical diagnostics for training-data curation:
  * distributed fixed-point KMeans (the fully-oracled upgrade of the
  * engine-specific Lloyd behind IVF), per-source distribution drift
  * (KL), vocabulary growth (Heaps) and rank-frequency shape (Zipf).
  * Every query carries a full DuckDB hash oracle: KMeans runs in
  * shifted integer arithmetic (unrolled-CTE replay, the q_hits
  * pattern), the text statistics are exact integer counts with the
  * decimal-summed ln-term discipline of q_mutual_info. */
object CorpusStatsQueries {

  /** Quantization constants shared with the operator the oracle
    * replays — see [[graft.operators.FixedPointKMeans]] for the
    * shift/floor-vs-truncate argument. */
  private val QScale = graft.operators.FixedPointKMeans.QScale
  private val QShift = graft.operators.FixedPointKMeans.QShift

  private val KmeansK = 4
  private val KmeansRounds = 2 // centroid updates; final assignment after

  /** Distributed KMeans over the embedding table in PURE INTEGER
    * arithmetic — deterministic init (the k smallest vec_ids),
    * truncating-division centroid means, (distance, cluster) tie-break —
    * so the full Lloyd iteration is replayed by the DuckDB oracle
    * round for round (the q_hits unrolled-CTE pattern). This closes the
    * one "engine-specific KMeans" caveat the IVF family carries: a
    * quantizer built this way is bit-identical in any engine.
    *
    * Scale design: the quantized vector relation is cached once; each
    * round is ONE map-side argmin over a k×d centroid literal (no
    * explode — the k candidates fold inside a higher-order aggregate)
    * plus one (cluster, dim)-keyed partial-aggregated groupBy; the
    * driver holds only k×d longs per round (the BPE-merge collect
    * discipline). Rounds are independent plans over the cached base —
    * lineage does not grow. Integer bounds: per-dim diffs <= 3.2e7 →
    * squared-distance sums <= ~6.5e16 per vector; per-cluster
    * coordinate sums overflow only past ~5e11 members (raise QScale
    * granularity or widen to Decimal there). Inertia sums exactly in
    * DECIMAL(38,0) and converts once to double at the end (both
    * engines nearest-round the identical integer). */
  val qKmeans = GraftQuery(
    "q_kmeans",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val emb = graft.operators.Caches.register(
        Tables.embeddings(s, dir).select($"vec_id",
          FixedPointKMeans.quantize($"embedding").as("v")))
      val cents = FixedPointKMeans.fit(emb, "vec_id", "v", KmeansK, KmeansRounds)
      // inertia: EXACT decimal sum, then one nearest-double conversion —
      // both engines round the identical integer to the identical double
      FixedPointKMeans.assign(emb, "v", cents).groupBy($"cluster")
        .agg(count(lit(1)).as("n_members"),
          sum($"dist".cast(DecimalType(38, 0))).cast("double").as("inertia"))
        .orderBy($"cluster")
    },
    Some(s"""WITH ${kmeansOracleCtes(KmeansK, KmeansRounds)}
        SELECT j AS cluster, COUNT(*) AS n_members,
          CAST(SUM(dist) AS DOUBLE) AS inertia
        FROM a${KmeansRounds + 1} GROUP BY j ORDER BY cluster""")
  )

  /** DuckDB integer-distance expression over two 64-dim quantized
    * lists — shared by every [[FixedPointKMeans]]-replaying oracle. */
  private[analytics] def kmeansDistSql(v: String, c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(range(64), i -> ($v[i+1]-$c[i+1])*($v[i+1]-$c[i+1]))),
       (acc, x) -> acc + x)"""

  /** The [[FixedPointKMeans]] replay as DuckDB CTEs: quantized
    * relation `q`, init `c0`, then per round assignment `a{r}` /
    * update `c{r}`, ending with the FINAL assignment `a{rounds+1}`
    * against the final centroids `c{rounds}`. Delegates to
    * [[kmeansOracleCtesOn]] with the raw embeddings table and a
    * literal k. */
  private[analytics] def kmeansOracleCtes(k: Int, rounds: Int): String =
    kmeansOracleCtesOn(
      "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      k.toString, rounds)

  /** [[kmeansOracleCtes]] generalized over the source relation and the
    * cluster count: `src` must expose (vec_id, v DOUBLE[]) — e.g. the
    * planted-clone corpus — and `kExpr` may be any scalar SQL
    * expression (a literal, or a subquery deriving k from the corpus
    * size so both engines compute the SAME adaptive k). `extra` CTEs
    * (if any — must carry their own trailing comma) are spliced between
    * `q` and `c0`, so `kExpr` may reference relations derived from `q`
    * (the two-level generator's kc/kf dims ride here). */
  /** `sfx` suffixes EVERY generated CTE name (q, c{r}, a{r}) so one
    * oracle can replay TWO independent clusterings in the same WITH —
    * the flat-vs-hierarchical router's both-paths replay. Default ""
    * keeps every existing caller's SQL semantically identical. */
  private[analytics] def kmeansOracleCtesOn(
      src: String, kExpr: String, rounds: Int, extra: String = "",
      sfx: String = ""): String = {
    def assignRound(a: String, cPrev: String) =
      s"""$a AS (SELECT vec_id, v, j, dist FROM (
          SELECT q.vec_id, q.v, c.j, ${kmeansDistSql("q.v", "c.c")} AS dist,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ${kmeansDistSql("q.v", "c.c")}, c.j) AS rk
          FROM q$sfx q, $cPrev c) WHERE rk = 1)"""
    def updateRound(cNext: String, a: String) =
      s"""$cNext AS (SELECT j, list(m ORDER BY i) AS c FROM (
          SELECT a.j, t.i, CAST(SUM(a.v[t.i+1]) // COUNT(*) AS BIGINT) AS m
          FROM $a a, UNNEST(range(64)) AS t(i) GROUP BY a.j, t.i) GROUP BY j)"""
    val roundsSql = (1 to rounds).map(r =>
      assignRound(s"a$r$sfx", s"c${r - 1}$sfx") + ",\n" +
        updateRound(s"c$r$sfx", s"a$r$sfx")).mkString(",\n")
    s"""q$sfx AS (SELECT vec_id,
        list_transform(v,
          x -> CAST(FLOOR(x * $QScale + 0.5) AS BIGINT) + $QShift) AS v
      FROM $src AS kmeans_src),
      ${extra}c0$sfx AS (SELECT j, c FROM (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS c FROM q$sfx)
        WHERE j < ($kExpr)),
      $roundsSql,
      ${assignRound(s"a${rounds + 1}$sfx", s"c$rounds$sfx")}"""
  }

  /** SemDeDup's cosine threshold τ = 9/10 as an exact rational — the
    * squared-integer similarity test interpolates tauNum²/tauDen² into
    * BOTH engines from these two literals. 0.9 sits inside the planted
    * clone band (cosines ≈ 0.95/0.97/0.99) and above everything the
    * raw synthetic table contains (max ≈ 0.6), so the drop surface is
    * exactly the planted-clone surface modulo cluster splits. */
  private val SemTauNum = 9L
  private val SemTauDen = 10L

  /** Adaptive cluster count k = max(8, ⌊√N⌋) — the SemDeDup ladder.
    * Both engines evaluate the same IEEE sqrt+floor over the same
    * integer count, so the k (and therefore the whole clustering) is
    * identical. √N balances assignment work (N·k·d) against expected
    * intra-cluster pair volume (N²/k): both Θ(N^1.5·d) — the published
    * method's sub-quadratic trade (hierarchical k-means is the next
    * rung at extreme N, not a cap). */
  private def semKExprOn(rel: String) =
    s"SELECT GREATEST(8, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM $rel"
  private val SemKExpr = semKExprOn("q")

  /** The SemDeDup drop replay from a FLAT final-assignment CTE
    * `a{rounds+1}$sfx`: unshifted vectors + squared norms once per
    * vector, within-cluster pairs, the exact HUGEINT threshold test,
    * per-cluster stats. Emits `u$sfx`/`pr$sfx`/`dropped$sfx`(id_b)/
    * `stats$sfx`(cluster, n_members, n_dropped). */
  private def semdedupFlatTailSql(sfx: String): String = {
    val aFin = s"a${KmeansRounds + 1}$sfx"
    s"""u$sfx AS (SELECT vec_id, j,
          list_transform(v, x -> x - $QShift) AS uv,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(v, x -> (x - $QShift) * (x - $QShift))),
            (acc, x) -> acc + x) AS nsq
        FROM $aFin),
      pr$sfx AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(64), i -> a.uv[i+1] * b.uv[i+1])),
            (acc, x) -> acc + x) AS dot,
          a.nsq AS nsq_a, b.nsq AS nsq_b
        FROM u$sfx a JOIN u$sfx b ON a.j = b.j AND a.vec_id < b.vec_id),
      dropped$sfx AS (SELECT DISTINCT id_b FROM pr$sfx
        WHERE dot >= 0 AND nsq_a > 0 AND nsq_b > 0
          AND CAST(dot AS HUGEINT) * dot * ${SemTauDen * SemTauDen} >=
              ${SemTauNum * SemTauNum} * CAST(nsq_a AS HUGEINT) * nsq_b),
      stats$sfx AS (SELECT a.j AS cluster, COUNT(*) AS n_members,
          CAST(SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped
        FROM $aFin a LEFT JOIN dropped$sfx d ON a.vec_id = d.id_b
        GROUP BY a.j)"""
  }

  /** The multi-probe drop replay from the TWO-LEVEL CTEs (`q$sfx`,
    * final coarse centroids `c{rounds}$sfx`, final fine centroids
    * `f{rounds}$sfx`): top-2 coarse rank (the kernel's two-slot
    * strict-< tie-break ≡ rk ≤ 2 of the distance row_number), the
    * per-(vector, probe) fine argmin, and the ASYMMETRIC pair rule of
    * [[graft.operators.SemDeDup.droppedIdsMultiProbe]]. Emits
    * `m$sfx`/`dropped$sfx`(id_b)/`prim$sfx`/`stats$sfx`. */
  private def semdedupMpTailSql(sfx: String): String = {
    val cFin = s"c$KmeansRounds$sfx"
    val fFin = s"f$KmeansRounds$sfx"
    s"""a2t$sfx AS (SELECT vec_id, v, j, rk FROM (
          SELECT q.vec_id, q.v, c.j, ${kmeansDistSql("q.v", "c.c")} AS dist,
            ROW_NUMBER() OVER (PARTITION BY q.vec_id
              ORDER BY ${kmeansDistSql("q.v", "c.c")}, c.j) AS rk
          FROM q$sfx q, $cFin c) WHERE rk <= 2),
      m$sfx AS (SELECT vec_id, v, fj, rk FROM (
          SELECT a.vec_id, a.v, f.fj, a.rk,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id, a.rk
              ORDER BY ${kmeansDistSql("a.v", "f.c")}, f.fj) AS rrk
          FROM a2t$sfx a JOIN $fFin f ON a.j = f.cc) WHERE rrk = 1),
      u$sfx AS (SELECT vec_id, fj, rk,
          list_transform(v, x -> x - $QShift) AS uv,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(v, x -> (x - $QShift) * (x - $QShift))),
            (acc, x) -> acc + x) AS nsq
        FROM m$sfx),
      pr$sfx AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(64), i -> a.uv[i+1] * b.uv[i+1])),
            (acc, x) -> acc + x) AS dot,
          a.nsq AS nsq_a, b.nsq AS nsq_b
        FROM u$sfx a JOIN u$sfx b ON a.fj = b.fj AND b.rk = 1
          AND (a.vec_id < b.vec_id OR (a.rk = 2 AND a.vec_id <> b.vec_id))),
      dropped$sfx AS (SELECT DISTINCT GREATEST(id_a, id_b) AS id_b FROM pr$sfx
        WHERE dot >= 0 AND nsq_a > 0 AND nsq_b > 0
          AND CAST(dot AS HUGEINT) * dot * ${SemTauDen * SemTauDen} >=
              ${SemTauNum * SemTauNum} * CAST(nsq_a AS HUGEINT) * nsq_b),
      prim$sfx AS (SELECT vec_id, fj FROM m$sfx WHERE rk = 1),
      stats$sfx AS (SELECT p.fj AS cluster, COUNT(*) AS n_members,
          CAST(SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped
        FROM prim$sfx p LEFT JOIN dropped$sfx d ON p.vec_id = d.id_b
        GROUP BY p.fj)"""
  }

  /** Planted-clone recall rollup from `dropped$sfx` — needs `base`/`mx`
    * of [[graft.analytics.DocQueries.plantedCorpusSql]] in scope. */
  private def semdedupRecSql(sfx: String): String =
    s"""rec$sfx AS (SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE vec_id % 8 = 0)
          AS n_planted,
        CAST((SELECT COUNT(*) FROM dropped$sfx, mx
              WHERE id_b >= mx.off AND (id_b - mx.off) % 8 = 0) * 1000000
          // (SELECT COUNT(*) FROM base WHERE vec_id % 8 = 0) AS BIGINT)
          AS planted_drop_ppm)"""

  /** Flat SemDeDup ENGINE path over a cached quantized relation
    * (vec_id, v): k = ⌊√N⌋ Lloyd, cached assignment, exact in-cluster
    * drop. Shared verbatim by q_semdedup and the router's small-N
    * branch so the two can never drift (the gated corpora all route
    * flat, so a drift in a hand-copied branch would ship silently).
    * Returns (primary (vec_id, cluster), dropped ids). */
  private def semdedupFlatPath(q: DataFrame, kTot: Int): (DataFrame, DataFrame) = {
    import graft.operators.{Caches, FixedPointKMeans, SemDeDup}
    val cents = FixedPointKMeans.fit(q, "vec_id", "v", kTot, KmeansRounds)
    val asg = Caches.register(FixedPointKMeans.assign(q, "v", cents)
      .select(col("vec_id"), col("v"), col("cluster")))
    (asg.select(col("vec_id"), col("cluster")),
      SemDeDup.droppedIds(asg, "vec_id", "v", "cluster", SemTauNum, SemTauDen))
  }

  /** Two-level + coarse top-2 multi-probe ENGINE path — shared
    * verbatim by q_semdedup_2l_mp and the router's large-N branch
    * (same no-drift argument as [[semdedupFlatPath]], sharper here:
    * no oracle-gated corpus exercises the router's large-N branch). */
  private def semdedup2lMpPath(q: DataFrame, kTot: Long): (DataFrame, DataFrame) = {
    import graft.operators.{Caches, FixedPointKMeans, SemDeDup}
    val kc = math.max(4L, math.floor(math.sqrt(kTot.toDouble)).toLong).toInt
    val kf = ((kTot + kc - 1L) / kc).toInt
    val tl = FixedPointKMeans.fitTwoLevel(q, "vec_id", "v", kc, kf, KmeansRounds)
    // one fused top-2 coarse sweep, cached: both probes read it
    val t2 = Caches.register(FixedPointKMeans.assignTop2(q, "v", tl.coarse)
      .select(col("vec_id"), col("v"),
        col("cluster").as("cc1"), col("cluster2").as("cc2")))
    val prim = Caches.register(FixedPointKMeans.assignFine(
        t2.select(col("vec_id"), col("v"), col("cc1").as("cc")),
        "v", "cc", kf, tl.fine)
      .select(col("vec_id"), col("v"), col("fj")))
    val sec = FixedPointKMeans.assignFine(
        t2.filter(col("cc2") =!= -1)
          .select(col("vec_id"), col("v"), col("cc2").as("cc")),
        "v", "cc", kf, tl.fine, requireSeeded = false)
      .select(col("vec_id"), col("v"), col("fj"))
    (prim.select(col("vec_id"), col("fj").as("cluster")),
      SemDeDup.droppedIdsMultiProbe(prim, sec, "vec_id", "v", "fj",
        SemTauNum, SemTauDen))
  }

  /** Shared per-cluster stats + planted-recall rollup over a primary
    * assignment (vec_id, cluster) and a dropped-id relation: (cluster,
    * n_members, n_dropped, n_planted, planted_drop_ppm) by cluster. */
  private def semdedupStats(asgPrim: DataFrame, dropped: DataFrame,
      off: Long, nPlanted: Long): DataFrame = {
    val stats = asgPrim
      .join(dropped.withColumnRenamed("id", "vec_id")
        .withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(coalesce(col("is_dropped"), lit(0L))).as("n_dropped"))
    val rec = dropped
      .agg(coalesce(sum(when(col("id") >= off && (col("id") - off) % 8 === 0, 1L)
        .otherwise(0L)), lit(0L)).as("n_pd"))
      .select(lit(nPlanted).as("n_planted"),
        expr(s"CAST(n_pd * 1000000 div $nPlanted AS BIGINT)")
          .as("planted_drop_ppm"))
    stats.crossJoin(rec).orderBy(col("cluster"))
  }

  /** SemDeDup (Abbas et al. 2023) over the planted-clone corpus:
    * k-means-cluster the embeddings (the [[FixedPointKMeans]] integer
    * Lloyd, k = ⌊√N⌋, fully replayed by the oracle's unrolled CTEs),
    * then WITHIN each cluster drop every vector having a smaller-id
    * cluster-mate at cosine ≥ 0.9 — exact integer arithmetic end to
    * end, so the DuckDB oracle reproduces the drop set bit for bit
    * (see [[graft.operators.SemDeDup]] for the squared-comparison
    * derivation and integer bounds). Emits per-cluster member/drop
    * counts plus the corpus-level planted-clone drop rate: within-
    * cluster search is recall-1.0, so `planted_drop_ppm` (984126 =
    * 62/63 at sf0.01) measures exactly the method's documented miss
    * mode — clones split from their source by a k-means boundary.
    * Completes the embedding-dup triad: LSH (sub-quadratic, banding
    * recall contract), tiled brute force (recall 1.0, Θ(N²)), SemDeDup
    * (recall 1.0 within clusters, Θ(N^1.5)). */
  val qSemdedup = GraftQuery(
    "q_semdedup",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      val (corpus, off, nPlanted) = DocQueries.plantedEmbeddings(s, dir)
      val q = Caches.register(corpus.select($"vec_id",
        FixedPointKMeans.quantize($"embedding").as("v")))
      val k = math.max(8L,
        math.floor(math.sqrt(q.count().toDouble)).toLong).toInt
      val (asgPrim, dropped) = semdedupFlatPath(q, k)
      semdedupStats(asgPrim, dropped, off, nPlanted)
    },
    Some(s"""WITH ${graft.analytics.DocQueries.plantedCorpusSql},
      ${kmeansOracleCtesOn("(SELECT vec_id, v FROM e)", SemKExpr, KmeansRounds)},
      ${semdedupFlatTailSql("")},
      ${semdedupRecSql("")}
      SELECT cluster, n_members, n_dropped, rec.n_planted, rec.planted_drop_ppm
      FROM stats, rec ORDER BY cluster""")
  )

  /** τ rungs for [[qSemdedupSweep]] as exact percentages (denominator
    * 100): below the raw corpus's cosine ceiling (~0.6), at the
    * threshold q_semdedup ships (0.9), and bracketing the planted clone
    * band (cosines ≈ 0.95 / 0.97 / 0.99). */
  private val SemSweepTaus: Seq[Long] = Seq(50L, 80L, 90L, 95L, 99L)

  /** The SemDeDup THRESHOLD-SENSITIVITY curve — the measurement a
    * curation team runs BEFORE committing to a τ: drop mass at five
    * thresholds from ONE clustering and ONE pair pass. The cluster fit,
    * assignment and within-cluster pair stream are exactly
    * [[qSemdedup]]'s (same ⌊√N⌋ Lloyd, same strict id_a < id_b
    * surface); each τ rung is then one more fused graft_intcos_ge
    * predicate over the already-computed (dot, ‖a‖², ‖b‖²) row — the
    * pair join is NOT re-run per threshold. Emits per τ: surviving
    * pair count, distinct dropped ids, survivors — the knee of the
    * n_dropped curve (here: nothing at 0.5 beyond raw-corpus pairs,
    * the full clone band at 0.9, decay through 0.95/0.99) is the
    * evidence for where τ belongs. Scale: one Θ(N^1.5) pair stream;
    * the 5-way conditional count-distinct expands the aggregation
    * input ×|ladder| — a diagnostic cost, borne once per sweep, not
    * per serving query. Oracle replays the Lloyd, the pair stream and
    * every rung's exact HUGEINT threshold test. */
  val qSemdedupSweep = GraftQuery(
    "q_semdedup_sweep",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      val (corpus, _, _) = DocQueries.plantedEmbeddings(s, dir)
      val q = Caches.register(corpus.select($"vec_id",
        FixedPointKMeans.quantize($"embedding").as("v")))
      val nTot = q.count()
      val k = math.max(8L, math.floor(math.sqrt(nTot.toDouble)).toLong).toInt
      val cents = FixedPointKMeans.fit(q, "vec_id", "v", k, KmeansRounds)
      val asg = Caches.register(FixedPointKMeans.assign(q, "v", cents)
        .select($"vec_id", $"v", $"cluster"))
      // the SHARED pair stream — q_semdedup's droppedIds evaluates its
      // single τ over this same body, so the sweep cannot drift from
      // the threshold the production query ships
      val pr = graft.operators.SemDeDup.pairStream(
        asg, "vec_id", "v", "cluster")
      val aggs = SemSweepTaus.flatMap { t =>
        val pass = call_function("graft_intcos_ge",
          $"dot", $"nsq_a", $"nsq_b", lit(t), lit(100L))
        Seq(sum(when(pass, 1L).otherwise(0L)).as(s"p$t"),
          countDistinct(when(pass, $"id_b")).as(s"d$t"))
      }
      pr.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${SemSweepTaus.length}, " +
          SemSweepTaus.map(t => s"${t}L, coalesce(p$t, 0L), d$t")
            .mkString(", ") +
          ") AS (tau_pct, n_pairs, n_dropped)")
        .withColumn("n_survivors", lit(nTot) - $"n_dropped")
        .orderBy($"tau_pct")
    },
    Some {
      val tauRows = SemSweepTaus.map(t => s"($t)").mkString(", ")
      // the exact integer test of graft_intcos_ge at num = tau_pct,
      // den = 100 — semdedupFlatTailSql's dropped-CTE condition with
      // the rung parameterized (10000 = den²)
      val rung =
        s"""p.dot >= 0 AND p.nsq_a > 0 AND p.nsq_b > 0
          AND CAST(p.dot AS HUGEINT) * p.dot * 10000 >=
              t.tau_pct * t.tau_pct * CAST(p.nsq_a AS HUGEINT) * p.nsq_b"""
      s"""WITH ${graft.analytics.DocQueries.plantedCorpusSql},
      ${kmeansOracleCtesOn("(SELECT vec_id, v FROM e)", SemKExpr, KmeansRounds)},
      ${semdedupFlatTailSql("")},
      taus AS (SELECT CAST(tau_pct AS BIGINT) AS tau_pct
        FROM (VALUES $tauRows) t(tau_pct)),
      sw AS (SELECT t.tau_pct,
          CAST(SUM(CASE WHEN $rung THEN 1 ELSE 0 END) AS BIGINT)
            AS n_pairs,
          CAST(COUNT(DISTINCT CASE WHEN $rung THEN p.id_b END) AS BIGINT)
            AS n_dropped
        FROM taus t LEFT JOIN pr p ON TRUE GROUP BY t.tau_pct),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
      SELECT sw.tau_pct, sw.n_pairs, sw.n_dropped,
        nn.n - sw.n_dropped AS n_survivors
      FROM sw, nn ORDER BY sw.tau_pct"""
    }
  )

  /** The [[graft.operators.FixedPointKMeans.fitTwoLevel]] replay as
    * DuckDB CTEs: the flat coarse replay (kc cells, via
    * [[kmeansOracleCtesOn]] with the kc/kf dims CTE spliced in), then
    * per-cell fine rounds — the SAME assignment/update shape with the
    * vector↔centroid join keyed by the coarse cell, exactly like the
    * engine's broadcast-join + within-cell argmin. `kTotExpr` is the
    * TOTAL target cluster count as a scalar SQL over `q`; the split is
    * kc = max(4, ⌊√k⌋), kf = ⌈k/kc⌉ in both engines. Ends at the final
    * fine assignment `fa{rounds+1}(vec_id, cc, v, fj, dist)`. */
  private[analytics] def kmeans2lOracleCtesOn(
      src: String, kTotExpr: String, rounds: Int, sfx: String = ""): String = {
    val dims = s"""kdims$sfx AS (SELECT k, kc, (k + kc - 1) // kc AS kf FROM (
        SELECT k, GREATEST(4, CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT)) AS kc
        FROM (SELECT ($kTotExpr) AS k))),
      """
    val coarse =
      kmeansOracleCtesOn(src, s"(SELECT kc FROM kdims$sfx)", rounds, dims, sfx)
    val aFin = s"a${rounds + 1}$sfx"
    def fineAssign(fa: String, fPrev: String) =
      s"""$fa AS (SELECT vec_id, cc, v, fj, dist FROM (
          SELECT a.vec_id, f.cc, a.v, f.fj, ${kmeansDistSql("a.v", "f.c")} AS dist,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id
              ORDER BY ${kmeansDistSql("a.v", "f.c")}, f.fj) AS rk
          FROM $aFin a JOIN $fPrev f ON a.j = f.cc) WHERE rk = 1)"""
    def fineUpdate(fc: String, fa: String) =
      s"""$fc AS (SELECT u.fj, u.fj // kd.kf AS cc, u.c FROM (
          SELECT fj, list(m ORDER BY i) AS c FROM (
            SELECT a.fj, t.i, CAST(SUM(a.v[t.i+1]) // COUNT(*) AS BIGINT) AS m
            FROM $fa a, UNNEST(range(64)) AS t(i) GROUP BY a.fj, t.i)
          GROUP BY fj) u, kdims$sfx kd)"""
    val f0 =
      s"""f0$sfx AS (SELECT a.j AS cc, a.j * kd.kf + a.rn - 1 AS fj, a.v AS c FROM (
          SELECT vec_id, v, j,
            ROW_NUMBER() OVER (PARTITION BY j ORDER BY vec_id) AS rn
          FROM $aFin) a, kdims$sfx kd WHERE a.rn <= kd.kf)"""
    val fineRounds = (1 to rounds).map(r =>
      fineAssign(s"fa$r$sfx", s"f${r - 1}$sfx") + ",\n" +
        fineUpdate(s"f$r$sfx", s"fa$r$sfx")).mkString(",\n")
    s"""$coarse,
      $f0,
      $fineRounds,
      ${fineAssign(s"fa${rounds + 1}$sfx", s"f$rounds$sfx")}"""
  }

  /** SemDeDup routed through the TWO-LEVEL (hierarchical) k-means —
    * the measured "next rung" of the k-lever: the flat ⌊√N⌋-cluster fit
    * pays assignment Θ(N·k·d), which at k = √N grows exactly as fast
    * as the pair mass shrinks; the two-level fit (coarse √k cells, then
    * per-cell fine Lloyd, all cells per round in ONE job) does the same
    * job at Θ(N·√k·d). Same exact integer arithmetic, same per-cell
    * init/tie-break determinism, so the DuckDB oracle replays BOTH
    * levels round for round (coarse CTEs + cell-keyed fine CTEs) and
    * the drop set is bit-identical. Output schema matches q_semdedup
    * (cluster → global fine id), so per-cluster pair mass Σc² and the
    * planted-clone drop rate are directly comparable between the flat
    * and hierarchical partitions — the honest quality side of the
    * fit-cost A/B (SCALING.md carries the sf10 timing rows). */
  val qSemdedup2l = GraftQuery(
    "q_semdedup_2l",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans, SemDeDup}
      val (corpus, off, nPlanted) = DocQueries.plantedEmbeddings(s, dir)
      val q = Caches.register(corpus.select($"vec_id",
        FixedPointKMeans.quantize($"embedding").as("v")))
      val n = q.count()
      // the SAME total-k ladder as q_semdedup, split max(4,⌊√k⌋) × ⌈k/kc⌉
      val kTot = math.max(8L, math.floor(math.sqrt(n.toDouble)).toLong)
      val kc = math.max(4L, math.floor(math.sqrt(kTot.toDouble)).toLong).toInt
      val kf = ((kTot + kc - 1L) / kc).toInt
      val tl = FixedPointKMeans.fitTwoLevel(q, "vec_id", "v", kc, kf, KmeansRounds)
      val asg = Caches.register(FixedPointKMeans.assignTwoLevel(q, "v", tl)
        .select($"vec_id", $"v", $"cluster"))
      val dropped = SemDeDup.droppedIds(asg, "vec_id", "v", "cluster",
        SemTauNum, SemTauDen)
      semdedupStats(asg.select($"vec_id", $"cluster"), dropped, off, nPlanted)
    },
    Some({
      val faFin = s"fa${KmeansRounds + 1}"
      s"""WITH ${graft.analytics.DocQueries.plantedCorpusSql},
      ${kmeans2lOracleCtesOn("(SELECT vec_id, v FROM e)", SemKExpr, KmeansRounds)},
      u AS (SELECT vec_id, fj,
          list_transform(v, x -> x - $QShift) AS uv,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(v, x -> (x - $QShift) * (x - $QShift))),
            (acc, x) -> acc + x) AS nsq
        FROM $faFin),
      pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(64), i -> a.uv[i+1] * b.uv[i+1])),
            (acc, x) -> acc + x) AS dot,
          a.nsq AS nsq_a, b.nsq AS nsq_b
        FROM u a JOIN u b ON a.fj = b.fj AND a.vec_id < b.vec_id),
      dropped AS (SELECT DISTINCT id_b FROM pr
        WHERE dot >= 0 AND nsq_a > 0 AND nsq_b > 0
          AND CAST(dot AS HUGEINT) * dot * ${SemTauDen * SemTauDen} >=
              ${SemTauNum * SemTauNum} * CAST(nsq_a AS HUGEINT) * nsq_b),
      stats AS (SELECT $faFin.fj AS cluster, COUNT(*) AS n_members,
          CAST(SUM(CASE WHEN d.id_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped
        FROM $faFin LEFT JOIN dropped d ON $faFin.vec_id = d.id_b
        GROUP BY $faFin.fj),
      rec AS (SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE vec_id % 8 = 0)
            AS n_planted,
          CAST((SELECT COUNT(*) FROM dropped, mx
                WHERE id_b >= mx.off AND (id_b - mx.off) % 8 = 0) * 1000000
            // (SELECT COUNT(*) FROM base WHERE vec_id % 8 = 0) AS BIGINT)
            AS planted_drop_ppm)
      SELECT cluster, n_members, n_dropped, rec.n_planted, rec.planted_drop_ppm
      FROM stats, rec ORDER BY cluster"""
    })
  )

  /** The two-level SemDeDup with coarse TOP-2 MULTI-PROBE for
    * candidate generation — the recall-recovery rung on top of
    * q_semdedup_2l: the hierarchical fit's measured quality trade
    * (−5.1 pp planted-clone recall at sf10, PROBE_H) is clone pairs
    * split across the ADDED coarse boundaries, which fine cells never
    * cross. Here each vector probes its TWO nearest coarse cells (one
    * fused sweep, [[graft.operators.FixedPointKMeans.assignTop2]] —
    * the runner-up costs one extra compare per candidate), takes the
    * within-cell fine argmin in each (runner-up cells with no fine
    * centroids legally contribute nothing — a centroid can be
    * somebody's second-closest while being nobody's closest), and the
    * near-dup pair search runs between the EXPANDED membership and the
    * primary one ([[graft.operators.SemDeDup.droppedIdsMultiProbe]] —
    * the ASYMMETRIC, query-side-expansion probe): a pair split by one
    * coarse boundary meets when either side's runner-up fine cell is
    * the other's primary. The FIT is untouched — multi-probe is
    * candidate generation only — so the fit-cost win stands and verify
    * mass at most doubles (still under flat's Σc²; the symmetric
    * union×union alternative measured 5.4×). Stats stay keyed by
    * the PRIMARY fine cluster, schema identical to q_semdedup /
    * q_semdedup_2l, so the three partitions' pair mass and
    * planted-drop recall are directly comparable. The oracle replays
    * the probe as rk ≤ 2 of the coarse distance row_number — exactly
    * the kernel's two-slot strict-< tie-break — then the per-(vector,
    * probe) fine argmin, then the shared exact-cosine drop rule. */
  val qSemdedup2lMp = GraftQuery(
    "q_semdedup_2l_mp",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      val (corpus, off, nPlanted) = DocQueries.plantedEmbeddings(s, dir)
      val q = Caches.register(corpus.select($"vec_id",
        FixedPointKMeans.quantize($"embedding").as("v")))
      val n = q.count()
      val kTot = math.max(8L, math.floor(math.sqrt(n.toDouble)).toLong)
      val (asgPrim, dropped) = semdedup2lMpPath(q, kTot)
      semdedupStats(asgPrim, dropped, off, nPlanted)
    },
    Some(s"""WITH ${graft.analytics.DocQueries.plantedCorpusSql},
      ${kmeans2lOracleCtesOn("(SELECT vec_id, v FROM e)", SemKExpr, KmeansRounds)},
      ${semdedupMpTailSql("")},
      ${semdedupRecSql("")}
      SELECT cluster, n_members, n_dropped, rec.n_planted, rec.planted_drop_ppm
      FROM stats, rec ORDER BY cluster""")
  )

  /** SemDeDup behind the measured flat-vs-hierarchical ROUTER
    * ([[graft.operators.SemDeDup.routeTwoLevel]]) — one query, the
    * right plan at every corpus size: below 1e5 vectors the flat ⌊√N⌋
    * Lloyd (fixed per-round job count dominates the hierarchy at small
    * N — flat measured 3.3 vs 5.4 s at n = 22 500); at or above it the
    * two-level fit + coarse top-2 multi-probe, which at n = 225 000
    * beats flat on BOTH axes (19.0 vs 28.2 s steady, 94.4% vs 91.8%
    * planted recall — BENCH_SF10_PROBE_MP.json). The decision is a
    * pure function of the SAME integer count in both engines and rides
    * in every row as `mode`; the oracle replays BOTH paths (suffixed
    * CTE chains — this is what the sfx parameter of the kmeans
    * generators exists for) and selects by the replayed decision, so
    * the gate stays honest at ANY corpus size rather than silently
    * pinning the small-N branch. Output schema = q_semdedup + mode. */
  val qSemdedupAuto = GraftQuery(
    "q_semdedup_auto",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans, SemDeDup}
      val (corpus, off, nPlanted) = DocQueries.plantedEmbeddings(s, dir)
      val q = Caches.register(corpus.select($"vec_id",
        FixedPointKMeans.quantize($"embedding").as("v")))
      val n = q.count()
      val kTot = math.max(8L, math.floor(math.sqrt(n.toDouble)).toLong)
      val twoLevel = SemDeDup.routeTwoLevel(n)
      // the branches ARE the registered queries' shared paths — the
      // router can never drift from q_semdedup / q_semdedup_2l_mp
      val (asgPrim, dropped) =
        if (twoLevel) semdedup2lMpPath(q, kTot)
        else semdedupFlatPath(q, kTot.toInt)
      semdedupStats(asgPrim, dropped, off, nPlanted)
        .withColumn("mode", lit(if (twoLevel) "2l_mp" else "flat"))
        .orderBy($"cluster")
    },
    Some({
      // The oracle MATERIALIZES BOTH full clustering chains at every
      // scale factor — DuckDB cannot prune the constant-false UNION
      // branch at plan time, so the gate costs ~2× a single path. That
      // is deliberate: replaying both paths and selecting by the
      // replayed decision is what keeps the gate honest at ANY corpus
      // size (a pruned oracle would silently pin whichever branch the
      // gated corpora happen to route). Oracle-side cost only; revisit
      // with dec-gated tail CTEs if oracle sweeps ever slow down.
      val T = graft.operators.SemDeDup.RouteMinTwoLevelN
      s"""WITH ${graft.analytics.DocQueries.plantedCorpusSql},
      ${kmeansOracleCtesOn("(SELECT vec_id, v FROM e)", semKExprOn("qf"),
        KmeansRounds, "", "f")},
      ${semdedupFlatTailSql("f")},
      ${semdedupRecSql("f")},
      ${kmeans2lOracleCtesOn("(SELECT vec_id, v FROM e)", semKExprOn("qh"),
        KmeansRounds, "h")},
      ${semdedupMpTailSql("h")},
      ${semdedupRecSql("h")},
      dec AS (SELECT CASE WHEN (SELECT COUNT(*) FROM qf) >= $T
        THEN '2l_mp' ELSE 'flat' END AS mode)
      SELECT r.cluster, r.n_members, r.n_dropped, r.n_planted,
        r.planted_drop_ppm, dec.mode
      FROM (
        SELECT s.cluster, s.n_members, s.n_dropped, r.n_planted,
          r.planted_drop_ppm
        FROM statsf s, recf r WHERE (SELECT mode FROM dec) = 'flat'
        UNION ALL
        SELECT s.cluster, s.n_members, s.n_dropped, r.n_planted,
          r.planted_drop_ppm
        FROM statsh s, rech r WHERE (SELECT mode FROM dec) = '2l_mp'
      ) r, dec ORDER BY r.cluster"""
    })
  )

  /** Per-source unigram KL divergence from the corpus distribution —
    * the mixture-drift diagnostic behind data-mixing decisions (a
    * source whose token distribution diverges hard from the corpus is
    * either a domain worth upweighting or contamination worth
    * inspecting). KL(p_source ‖ p_corpus) = Σ_t p_st·ln(p_st/p_ct);
    * source support ⊆ corpus support, so every term is finite. Terms
    * go through DECIMAL(18,12) before summing (order-independent; ln's
    * last-ulp noise sits 6 digits under the rounding — the
    * q_mutual_info discipline). Scale: counts-only token-keyed
    * shuffles; the corpus count relation is vocabulary-sized. */
  val qSourceKl = GraftQuery(
    "q_source_kl",
    (s, dir) => {
      import s.implicits._
      // cached: tok feeds FOUR aggregates (st, sTot, ct, tot) — without
      // the cache each re-runs the corpus scan + tokenize + explode
      val tok = graft.operators.Caches.register(Tables.documents(s, dir)
        .select($"source", explode(TextAnalysis.tokens($"text")).as("token")))
      val st = tok.groupBy($"source", $"token").agg(count(lit(1)).as("n_st"))
      val sTot = tok.groupBy($"source").agg(count(lit(1)).as("n_s"))
      val ct = tok.groupBy($"token").agg(count(lit(1)).as("n_t"))
      val tot = tok.agg(count(lit(1)).as("n"))
      st.join(ct, "token").join(broadcast(sTot), "source")
        .crossJoin(broadcast(tot))
        .groupBy($"source", $"n_s".as("n_tokens"))
        .agg(
          round(sum((($"n_st".cast("double") / $"n_s") *
              log(($"n_st".cast("double") * $"n") /
                ($"n_s".cast("double") * $"n_t")))
            .cast(DecimalType(18, 12))).cast("double"), 6).as("kl"))
        .orderBy($"source")
    },
    Some("""WITH tok AS (SELECT source,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
      FROM documents),
      st AS (SELECT source, token, COUNT(*) AS n_st FROM tok GROUP BY 1, 2),
      stot AS (SELECT source, COUNT(*) AS n_s FROM tok GROUP BY 1),
      ct AS (SELECT token, COUNT(*) AS n_t FROM tok GROUP BY 1),
      tot AS (SELECT COUNT(*) AS n FROM tok)
      SELECT st.source, stot.n_s AS n_tokens,
        ROUND(CAST(SUM(CAST((CAST(n_st AS DOUBLE) / n_s) *
          LN((CAST(n_st AS DOUBLE) * n) / (CAST(n_s AS DOUBLE) * n_t))
          AS DECIMAL(18,12))) AS DOUBLE), 6) AS kl
      FROM st JOIN ct USING (token) JOIN stot USING (source), tot
      GROUP BY st.source, stot.n_s ORDER BY st.source""")
  )

  /** Vocabulary growth over the corpus (Heaps'-law curve data): docs in
    * doc_id order split into 10 ntile buckets; per bucket the doc and
    * token-occurrence counts, cumulative occurrences, NEW distinct
    * tokens (first seen in that bucket — min-bucket per token, exact)
    * and the cumulative vocabulary. Sub-linear cum_vocab growth against
    * cum_tokens is the expected shape; a late bucket spiking new_vocab
    * flags an off-distribution data drop. All exact integer counts.
    * Scale: one token-keyed min-aggregate + domain-sized (10-row)
    * windows. */
  val qHeapsLaw = GraftQuery(
    "q_heaps_law",
    (s, dir) => {
      import s.implicits._
      val w10 = org.apache.spark.sql.expressions.Window.orderBy($"doc_id")
      val docs = Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
        .withColumn("bucket", ntile(10).over(w10))
      val tok = graft.operators.Caches.register(
        docs.select($"bucket", explode($"toks").as("token")))
      val per = tok.groupBy($"bucket").agg(count(lit(1)).as("n_tokens"))
      val nd = docs.groupBy($"bucket").agg(count(lit(1)).as("n_docs"))
      val firsts = tok.groupBy($"token").agg(min($"bucket").as("fb"))
        .groupBy($"fb".as("bucket")).agg(count(lit(1)).as("new_vocab"))
      val wc = org.apache.spark.sql.expressions.Window.orderBy($"bucket")
      nd.join(per, "bucket").join(firsts, Seq("bucket"), "left")
        .select($"bucket", $"n_docs", $"n_tokens",
          coalesce($"new_vocab", lit(0L)).as("new_vocab"))
        .withColumn("cum_tokens", sum($"n_tokens").over(wc))
        .withColumn("cum_vocab", sum($"new_vocab").over(wc))
        .orderBy($"bucket")
    },
    Some("""WITH d AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
        NTILE(10) OVER (ORDER BY doc_id) AS bucket
      FROM documents),
      tok AS (SELECT bucket, unnest(toks) AS token FROM d),
      per AS (SELECT bucket, COUNT(*) AS n_tokens FROM tok GROUP BY 1),
      nd AS (SELECT bucket, COUNT(*) AS n_docs FROM d GROUP BY 1),
      fs AS (SELECT fb AS bucket, COUNT(*) AS new_vocab FROM
        (SELECT token, MIN(bucket) AS fb FROM tok GROUP BY token) GROUP BY 1)
      SELECT nd.bucket, nd.n_docs, per.n_tokens,
        COALESCE(fs.new_vocab, 0) AS new_vocab,
        CAST(SUM(per.n_tokens) OVER (ORDER BY nd.bucket) AS BIGINT) AS cum_tokens,
        CAST(SUM(COALESCE(fs.new_vocab, 0)) OVER (ORDER BY nd.bucket) AS BIGINT) AS cum_vocab
      FROM nd JOIN per ON nd.bucket = per.bucket
      LEFT JOIN fs ON nd.bucket = fs.bucket
      ORDER BY nd.bucket""")
  )

  /** Zipf rank-frequency fit over the top-200 tokens: closed-form OLS of
    * ln(freq) on ln(rank) (slope ≈ −1 on natural text; a flat slope
    * flags templated/boilerplate corpora, a steep one vocabulary
    * collapse). The moment sums run over a 200-row domain relation
    * through DECIMAL(18,12) (exact, order-independent); the final
    * slope/intercept/r² tree is fixed IEEE arithmetic over those
    * moments — identical in both engines. Scale: one vocabulary rollup,
    * one global top-k, driver-free. */
  val qZipfFit = GraftQuery(
    "q_zipf_fit",
    (s, dir) => {
      import s.implicits._
      val top = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("f"))
        .orderBy($"f".desc, $"token").limit(200)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"f".desc, $"token")))
      def dsum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(18, 12))).cast("double")
      val m = top.select(log($"rk").as("x"), log($"f").as("y"))
        .agg(count(lit(1)).cast("double").as("n"), dsum($"x").as("sx"),
          dsum($"y").as("sy"), dsum($"x" * $"x").as("sxx"),
          dsum($"x" * $"y").as("sxy"), dsum($"y" * $"y").as("syy"))
      m.select($"n".cast("long").as("n_terms"),
          (($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")).as("slope"),
          $"n", $"sx", $"sy", $"sxx", $"sxy", $"syy")
        .select($"n_terms", round($"slope", 6).as("slope"),
          round(($"sy" - $"slope" * $"sx") / $"n", 6).as("intercept"),
          round(pow($"n" * $"sxy" - $"sx" * $"sy", 2) /
            (($"n" * $"sxx" - $"sx" * $"sx") *
             ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r2"))
    },
    Some("""WITH tok AS (SELECT
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
      FROM documents),
      top AS (SELECT token, COUNT(*) AS f FROM tok GROUP BY token
        ORDER BY f DESC, token LIMIT 200),
      xy AS (SELECT LN(ROW_NUMBER() OVER (ORDER BY f DESC, token)) AS x,
        LN(f) AS y FROM top),
      m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(18,12))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x*x AS DECIMAL(18,12))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(x*y AS DECIMAL(18,12))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(y*y AS DECIMAL(18,12))) AS DOUBLE) AS syy
      FROM xy),
      sl AS (SELECT n, sx, sy, sxx, sxy, syy,
        (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope FROM m)
      SELECT CAST(n AS BIGINT) AS n_terms, ROUND(slope, 6) AS slope,
        ROUND((sy - slope*sx) / n, 6) AS intercept,
        ROUND(POW(n*sxy - sx*sy, 2) /
          ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
      FROM sl""")
  )

  private val PqM = 4       // subspaces
  private val PqSubD = 16   // dims per subspace (4 × 16 = 64)
  private val PqK = 8       // codebook size per subspace
  private val PqRounds = 2
  private val PqTopK = 20

  /** PRODUCT QUANTIZATION recall — the memory-side companion of the IVF
    * probe path (Jégou et al.): each vector compresses to M=4 one-byte
    * codes (a 64×-ish storage cut at d=64), queries scan codes with
    * ASYMMETRIC distance (query-to-centroid lookup tables, never
    * reconstructing vectors), and the top-k is compared against the
    * exact integer-L2 top-k to certify recall — the number that decides
    * whether the compressed index is servable. Codebooks come from the
    * same deterministic [[graft.operators.FixedPointKMeans]] Lloyd as
    * q_kmeans/q_ivf_topk, run per 16-dim slice, so the ENTIRE pipeline
    * — 4 codebooks × 2 rounds, encoding, the 4×8 ADC tables, the
    * distance scan, both top-20s and the recall — replays bit for bit
    * in the DuckDB oracle (recall_ppm = hits × 50000 is exact integer).
    *
    * Scale: codebooks are M·k·subD longs on the driver (the BPE-merge
    * collect discipline); encoding and the ADC scan are map-side folds
    * against literal tables (no join, no shuffle); both top-20s are
    * TakeOrdered. The exact-L2 branch is the declared verification
    * baseline (same status as q_ivf_topk's recall column) — production
    * serves PQ codes alone, at M bytes per vector instead of 4·d. */
  /** The four subspace codebook fits over `vCol` slices of `rel` —
    * independent job chains submitted CONCURRENTLY (the Spark
    * scheduler interleaves their stages; the wall-clock cost of the
    * codebook phase is one fit, not four). Shared by [[qPqRecall]],
    * [[qOpqRecall]] (raw/permuted vectors) and [[qIvfPqSearch]]
    * (residuals), so the fit discipline — init, rounds, timeout —
    * cannot drift between the audits and the serving path. */
  private def fitPqBooks(rel: DataFrame,
      vCol: String): Seq[Seq[(Int, Seq[Long])]] =
    graft.operators.IvfPq.fitBooks(rel, vCol, PqM, PqSubD, PqK, PqRounds)

  /** The PQ encode → ADC scan → top-20 → exact-L2 certificate tail
    * over a (vec_id, v) relation — [[qPqRecall]]'s whole body after
    * quantization, shared verbatim with [[qOpqRecall]] so the two
    * audits measure the SAME pipeline and differ only in the vector
    * layout they are handed (the engine-side mirror of
    * [[pqOracleSql]]'s rel parameter). Query = vec 0; corpus = the
    * rest; ADC via per-subspace literal lookup tables; exact branch
    * through the fused single-centroid kernel. */
  private def pqAdcRecallTail(rel: DataFrame,
      books: Seq[Seq[(Int, Seq[Long])]]): DataFrame = {
    import graft.operators.FixedPointKMeans
    val coded = (0 until PqM).foldLeft(rel) { (df, m) =>
      df.withColumn(s"c$m",
        FixedPointKMeans.bestOf(slice(col("v"), m * PqSubD + 1, PqSubD),
          books(m))("j"))
    }
    val qv: Seq[Long] = rel.filter(col("vec_id") === 0L)
      .select(col("v")).head().getSeq[Long](0)
    val qsub = (0 until PqM).map(m => qv.slice(m * PqSubD, (m + 1) * PqSubD))
    val adc = (0 until PqM).map { m =>
      val ids = books(m).map(_._1)
      val ds = books(m).map { case (_, c) =>
        FixedPointKMeans.sqDistLocal(qsub(m), c) }
      element_at(map_from_arrays(typedLit(ids), typedLit(ds)), col(s"c$m"))
    }.reduce(_ + _)
    // fused single-centroid distance (graft_kmeans_assign with one
    // candidate) — same integer result as the zip_with fold it replaces
    def exactDist(v: Column) = FixedPointKMeans.bestOf(v, Seq((0, qv)))("d")
    val pq = coded.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), adc.as("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(PqTopK)
    val ex = rel.filter(col("vec_id") =!= 0L)
      .select(col("vec_id"), exactDist(col("v")).as("d"))
      .orderBy(col("d"), col("vec_id")).limit(PqTopK)
      .select(col("vec_id"))
    val hits = pq.join(ex, Seq("vec_id"), "leftsemi")
      .agg(count(lit(1)).as("n_hit"))
    pq.crossJoin(broadcast(hits))
      .select(col("vec_id"), col("adc_dist"),
        (col("n_hit") * (1000000L / PqTopK)).as("recall_ppm"))
      .orderBy(col("adc_dist"), col("vec_id"))
  }

  val qPqRecall = GraftQuery(
    "q_pq_recall",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val emb = graft.operators.Caches.register(
        Tables.embeddings(s, dir).select($"vec_id",
          FixedPointKMeans.quantize($"embedding").as("v")))
      pqAdcRecallTail(emb.toDF(), fitPqBooks(emb, "v"))
    },
    Some(pqOracleSql(PqM, PqSubD, PqK, PqRounds, PqTopK))
  )

  /** DuckDB sub-vector distance over `sub` dims. */
  private def pqDistSql(sub: Int, v: String, c: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       list_transform(range($sub), i -> ($v[i+1]-$c[i+1])*($v[i+1]-$c[i+1]))),
       (acc, x) -> acc + x)"""

  /** One PQ subspace's fit + encode as DuckDB CTEs: slice relation
    * `s$m` = `$vCol[lo:hi]` of `$src`, init `c{m}_0` = the k smallest
    * vec_ids, `rounds` assign/update rounds (truncating `//` mean —
    * valid because every sliced coordinate is non-negative by
    * construction in BOTH callers: raw shifted-quantized vectors for
    * [[qPqRecall]], RShift-ed residuals for [[qIvfPqSearch]]), ending
    * with the final code assignment `code$m`. Same Lloyd semantics as
    * [[kmeansOracleCtesOn]] at d = `sub`. */
  private def pqSubspaceCtes(m: Int, sub: Int, k: Int, rounds: Int,
      src: String, vCol: String): String = {
    val lo = m * sub + 1; val hi = (m + 1) * sub
    def assignRound(a: String, cPrev: String) =
      s"""$a AS (SELECT vec_id, v, j FROM (
          SELECT s.vec_id, s.v, c.j,
            ROW_NUMBER() OVER (PARTITION BY s.vec_id
              ORDER BY ${pqDistSql(sub, "s.v", "c.c")}, c.j) AS rk
          FROM s$m s, $cPrev c) WHERE rk = 1)"""
    def updateRound(cNext: String, a: String) =
      s"""$cNext AS (SELECT j, list(mm ORDER BY i) AS c FROM (
          SELECT a.j, t.i, CAST(SUM(a.v[t.i+1]) // COUNT(*) AS BIGINT) AS mm
          FROM $a a, UNNEST(range($sub)) AS t(i) GROUP BY a.j, t.i) GROUP BY j)"""
    val roundsSql = (1 to rounds).map(r =>
      assignRound(s"a${m}_$r", s"c${m}_${r - 1}") + ",\n" +
        updateRound(s"c${m}_$r", s"a${m}_$r")).mkString(",\n")
    s"""s$m AS (SELECT vec_id, $vCol[$lo:$hi] AS v FROM $src),
      c${m}_0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS c
        FROM s$m ORDER BY vec_id LIMIT $k),
      $roundsSql,
      ${assignRound(s"code$m", s"c${m}_$rounds")}"""
  }

  /** The full PQ replay: per subspace, the [[FixedPointKMeans]] Lloyd
    * CTEs over the 16-dim slice ([[pqSubspaceCtes]]), the query's ADC
    * tables, the code-table distance scan and both top-20s. `rel`
    * names the (vec_id, v) relation the pipeline quantizes — default
    * the raw quantized corpus `q`; [[qOpqRecall]] passes its permuted
    * relation plus the `prelude` CTEs that build it (must carry a
    * trailing comma). */
  private def pqOracleSql(mCount: Int, sub: Int, k: Int, rounds: Int,
      topK: Int, rel: String = "q", prelude: String = ""): String = {
    def subspace(m: Int): String = {
      val lo = m * sub + 1; val hi = (m + 1) * sub
      s"""${pqSubspaceCtes(m, sub, k, rounds, rel, "v")},
        dt$m AS (SELECT c.j, ${pqDistSql(sub, "qq.v", "c.c")} AS d
          FROM c${m}_$rounds c, (SELECT v[$lo:$hi] AS v FROM $rel WHERE vec_id = 0) qq)"""
    }
    val codeJoin = (0 until mCount).map(m =>
      s"JOIN code$m ON code$m.vec_id = $rel.vec_id").mkString(" ")
    val dtJoin = (0 until mCount).map(m =>
      s"JOIN dt$m ON dt$m.j = code$m.j").mkString(" ")
    val adcSum = (0 until mCount).map(m => s"dt$m.d").mkString(" + ")
    s"""WITH q AS (SELECT vec_id,
        list_transform(CAST(embedding AS DOUBLE[]),
          x -> CAST(FLOOR(x * $QScale + 0.5) AS BIGINT) + $QShift) AS v
      FROM embeddings),
      $prelude${(0 until mCount).map(subspace).mkString(",\n")},
      adc AS (SELECT $rel.vec_id, $adcSum AS adc_dist
        FROM $rel $codeJoin $dtJoin
        WHERE $rel.vec_id <> 0),
      pq AS (SELECT vec_id, adc_dist FROM adc
        ORDER BY adc_dist, vec_id LIMIT $topK),
      ex AS (SELECT $rel.vec_id FROM $rel, (SELECT v FROM $rel WHERE vec_id = 0) qq
        WHERE $rel.vec_id <> 0
        ORDER BY ${pqDistSql(mCount * sub, s"$rel.v", "qq.v")}, $rel.vec_id LIMIT $topK),
      hit AS (SELECT COUNT(*) AS n_hit FROM pq JOIN ex USING (vec_id))
      SELECT pq.vec_id, pq.adc_dist, hit.n_hit * ${1000000L / topK} AS recall_ppm
      FROM pq, hit ORDER BY adc_dist, vec_id"""
  }

  /** OPQ-lite — PQ over a BALANCED-VARIANCE dimension permutation (the
    * allocation half of Ge et al.'s Optimized Product Quantization,
    * without the rotation): contiguous 16-dim slices inherit whatever
    * variance layout the encoder happened to emit, so one subspace can
    * carry most of the signal while another quantizes noise — the
    * classic PQ failure mode. The fix is a data-dependent but fully
    * deterministic permutation: exact per-dimension second moments
    * (integer counts and sums, DECIMAL(38,0)/HUGEINT — no floating
    * point anywhere near the ranking), dimensions ranked by the exact
    * variance numerator n·Σx² − (Σx)², dealt round-robin across the M
    * subspaces (rank r → subspace r mod M), each subspace's dims laid
    * out in rank order. Everything downstream is [[qPqRecall]]'s exact
    * pipeline over the permuted vectors — same codebook budget, same
    * query (vec 0), same top-20 — so recall_ppm here vs q_pq_recall's
    * measures what dimension allocation alone buys, with both numbers
    * under their own hash gates. The permutation is a 64-int driver
    * array (collected from a 64-row moment rollup — bounded by d, not
    * N) applied as a STATIC 64-wide array constructor (codegen'd
    * gather, no interpreted per-element lambda on the corpus path).
    * Scale shape otherwise identical to q_pq_recall. */
  val qOpqRecall = GraftQuery(
    "q_opq_recall",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val d38 = (c: Column) => c.cast(DecimalType(38, 0))
      val quant = graft.operators.Caches.register(
        Tables.embeddings(s, dir).select($"vec_id",
          FixedPointKMeans.quantize($"embedding").as("v")))
      // exact per-dim moments; 64 rows collected — bounded by d
      val mom = quant.select(posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"dim").agg(count(lit(1)).as("n"),
          sum(d38($"x")).as("s"), sum(d38($"x") * d38($"x")).as("ss"))
        .collect()
      val ranked = mom.map { r =>
        val n = BigInt(r.getAs[Long]("n"))
        val sv = BigInt(r.getAs[java.math.BigDecimal]("s").toBigInteger)
        val ssv = BigInt(r.getAs[java.math.BigDecimal]("ss").toBigInteger)
        (r.getAs[Int]("dim"), n * ssv - sv * sv)
      }.sortBy { case (dim, vn) => (-vn, BigInt(dim)) }
      val ranks = ranked.map(_._1) // dim at rank r = 0..63
      val perm: Seq[Int] = (0 until PqM).flatMap(m =>
        ranks.zipWithIndex.collect { case (dim, r) if r % PqM == m => dim })
      val pv = graft.operators.Caches.register(quant.select($"vec_id",
        array(perm.map(i => $"v".getItem(i)): _*).as("v")))
      pqAdcRecallTail(pv.toDF(), fitPqBooks(pv, "v"))
    },
    Some {
      // the permutation replay: exact HUGEINT moments, the same
      // (variance desc, dim) rank, rank-mod-M subspace deal, and the
      // permuted relation `pv` laid out (subspace, slot)-contiguous —
      // then qPqRecall's generated tail verbatim over pv
      val prelude = s"""mom AS (SELECT t.i AS dim,
          CAST(COUNT(*) AS HUGEINT) AS n,
          SUM(CAST(q.v[t.i+1] AS HUGEINT)) AS s,
          SUM(CAST(q.v[t.i+1] AS HUGEINT) * CAST(q.v[t.i+1] AS HUGEINT)) AS ss
        FROM q, UNNEST(range(${PqM * PqSubD})) AS t(i) GROUP BY t.i),
      rk AS (SELECT dim,
          ROW_NUMBER() OVER (ORDER BY n*ss - s*s DESC, dim) - 1 AS r FROM mom),
      perm AS (SELECT dim, r % $PqM AS sub,
          ROW_NUMBER() OVER (PARTITION BY r % $PqM ORDER BY r) AS slot FROM rk),
      pv AS (SELECT q.vec_id, list(q.v[p.dim+1] ORDER BY p.sub, p.slot) AS v
        FROM q, perm p GROUP BY q.vec_id),
      """
      pqOracleSql(PqM, PqSubD, PqK, PqRounds, PqTopK, rel = "pv",
        prelude = prelude)
    }
  )

  /** Prefix lengths for [[qPrefixDimRecall]] — powers of two up to the
    * full dimension, the ladder Matryoshka-style truncation evaluates. */
  private val PrefixDims = Seq(16, 32, 64)

  /** Matryoshka-style TRUNCATION audit: top-20 retrieval quality when
    * only the first 16 / 32 / 64 embedding dimensions are stored — the
    * measurement a production stack runs before cutting vector storage
    * in half (MRL-trained encoders front-load signal; an encoder that
    * was NOT trained that way shows it here, in numbers, before anyone
    * truncates an index). Per prefix length: exact integer-L2 top-20
    * against the prefix of query vec 0 (fused single-candidate kernel —
    * the same map-side argmin as [[qPqRecall]]'s exact branch, over a
    * shorter slice), plus recall vs the FULL-dimension top-20 carried
    * on every row; the d = 64 rung is the identity anchor
    * (recall_ppm = 1e6 by construction — a cheap oracle-side sanity
    * check that the recall join itself is sound). Scale shape: three
    * map-side scans + TakeOrdered — no shuffle, no pairs; the prefix
    * slice would push into the parquet scan as a narrower read when
    * dims are stored as separate columns. */
  val qPrefixDimRecall = GraftQuery(
    "q_prefix_dim_recall",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val quant = graft.operators.Caches.register(
        Tables.embeddings(s, dir).select($"vec_id",
          FixedPointKMeans.quantize($"embedding").as("v")))
      val qv: Seq[Long] = quant.filter($"vec_id" === 0L)
        .select($"v").head().getSeq[Long](0)
      def topAt(d: Int): DataFrame = quant.filter($"vec_id" =!= 0L)
        .select($"vec_id",
          FixedPointKMeans.bestOf(slice($"v", 1, d),
            Seq((0, qv.take(d))))("d").as("dist"))
        .orderBy($"dist", $"vec_id").limit(PqTopK)
      // the full-d rung doubles as the recall reference — cached so the
      // ladder branch and every per-rung recall join read ONE top-20
      // computation (the oracle's fullk AS (SELECT vec_id FROM t64))
      val tops = PrefixDims.map(d =>
        d -> (if (d == PrefixDims.max)
          graft.operators.Caches.register(topAt(d)) else topAt(d))).toMap
      val full = tops(PrefixDims.max).select($"vec_id")
      PrefixDims.map { d =>
        val t = tops(d).withColumn("prefix_d", lit(d.toLong))
        val hit = t.join(full, Seq("vec_id"), "leftsemi")
          .agg(count(lit(1)).as("n_hit"))
        t.crossJoin(broadcast(hit))
          .select($"prefix_d", $"vec_id", $"dist",
            ($"n_hit" * (1000000L / PqTopK)).as("recall_ppm"))
      }.reduce(_ unionAll _)
        .orderBy($"prefix_d", $"dist", $"vec_id")
    },
    Some {
      val branches = PrefixDims.map { d =>
        s"""(SELECT CAST($d AS BIGINT) AS prefix_d, t.vec_id, t.dist,
            (SELECT COUNT(*) FROM t$d tt JOIN fullk f ON f.vec_id = tt.vec_id)
              * ${1000000L / PqTopK} AS recall_ppm
          FROM t$d t)"""
      }.mkString("\nUNION ALL\n")
      val tops = PrefixDims.map { d =>
        s"""t$d AS (SELECT q.vec_id,
            ${pqDistSql(d, "q.v", "qq.v")} AS dist
          FROM q, (SELECT v FROM q WHERE vec_id = 0) qq
          WHERE q.vec_id <> 0
          ORDER BY dist, q.vec_id LIMIT $PqTopK)"""
      }.mkString(",\n")
      s"""WITH q AS (SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
            x -> CAST(FLOOR(x * $QScale + 0.5) AS BIGINT) + $QShift) AS v
        FROM embeddings),
        $tops,
        fullk AS (SELECT vec_id FROM t${PrefixDims.max})
        SELECT * FROM ($branches)
        ORDER BY prefix_d, dist, vec_id"""
    }
  )

  private val IvfPqCoarseK = 8  // coarse cells (q_ivf_topk's geometry)
  private val IvfPqRounds = 2   // coarse Lloyd rounds
  private val IvfPqQueries = 4  // query batch (q_ivf_topk_mp's shape)
  private val IvfPqShort = 50   // ADC shortlist ahead of the exact re-rank

  /** Residual shift — see [[graft.operators.FixedPointKMeans.RShift]]
    * for the signed-residual floor-vs-truncate rationale; the constant
    * lives there so this oracle and the persisted
    * [[graft.operators.IvfPq]] index can never encode with different
    * shifts. */
  private val RShift = graft.operators.FixedPointKMeans.RShift

  /** The full IVF-PQ replay: the coarse Lloyd ([[kmeansOracleCtes]] —
    * quantized relation `q`, final centroids, final assignment), the
    * shifted-residual relation, [[pqSubspaceCtes]] per subspace OVER
    * THE RESIDUALS, the rk ≤ 2 probe, the per-(query, cell) ADC
    * tables, the code-table candidate scan, the ADC shortlist, the
    * exact integer-L2 re-rank and both top-20 certificates. */
  private def ivfPqOracleSql: String = {
    val aFin = s"a${IvfPqRounds + 1}" // kmeansOracleCtes' final assignment
    val cFin = s"c$IvfPqRounds"       // ... and final centroids
    def resTransform(v: String, c: String) =
      s"list_transform(range(${PqM * PqSubD}), i -> $v[i+1] - $c[i+1] + $RShift)"
    val subspaces = (0 until PqM).map(m =>
      pqSubspaceCtes(m, PqSubD, PqK, PqRounds, "res", "rv")).mkString(",\n")
    val luts = (0 until PqM).map { m =>
      val lo = m * PqSubD + 1; val hi = (m + 1) * PqSubD
      s"""lut$m AS (SELECT qr.qid, qr.cell, c.j,
          ${pqDistSql(PqSubD, s"qr.rv[$lo:$hi]", "c.c")} AS d
        FROM qres qr, c${m}_$PqRounds c)"""
    }.mkString(",\n")
    val codeJoin = (0 until PqM).map(m =>
      s"JOIN code$m ON code$m.vec_id = cand.vec_id").mkString(" ")
    val lutJoin = (0 until PqM).map(m =>
      s"JOIN lut$m ON lut$m.qid = cand.qid AND lut$m.cell = cand.cell " +
        s"AND lut$m.j = code$m.j").mkString(" ")
    val adcSum = (0 until PqM).map(m => s"lut$m.d").mkString(" + ")
    s"""WITH ${kmeansOracleCtes(IvfPqCoarseK, IvfPqRounds)},
      res AS (SELECT a.vec_id, a.j AS cell, ${resTransform("a.v", "c.c")} AS rv
        FROM $aFin a JOIN $cFin c ON c.j = a.j),
      $subspaces,
      qsel AS (SELECT vec_id AS qid, v FROM q ORDER BY vec_id LIMIT $IvfPqQueries),
      probe AS (SELECT qid, j AS cell FROM (
          SELECT qs.qid, c.j,
            ROW_NUMBER() OVER (PARTITION BY qs.qid
              ORDER BY ${kmeansDistSql("qs.v", "c.c")}, c.j) AS rk
          FROM qsel qs, $cFin c) WHERE rk <= 2),
      qres AS (SELECT p.qid, p.cell, ${resTransform("qs.v", "c.c")} AS rv
        FROM probe p JOIN qsel qs ON qs.qid = p.qid JOIN $cFin c ON c.j = p.cell),
      $luts,
      cand AS (SELECT p.qid, r.vec_id, r.cell FROM res r JOIN probe p ON r.cell = p.cell),
      adc AS (SELECT cand.qid, cand.vec_id, $adcSum AS adc_dist
        FROM cand $codeJoin $lutJoin),
      short AS (SELECT qid, vec_id, adc_dist FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY adc_dist, vec_id) AS rn FROM adc) WHERE rn <= $IvfPqShort),
      rrd AS (SELECT s.qid, s.vec_id, s.adc_dist,
          ${pqDistSql(PqM * PqSubD, "e.v", "qs.v")} AS d_exact
        FROM short s JOIN q e ON e.vec_id = s.vec_id
          JOIN qsel qs ON qs.qid = s.qid),
      rr AS (SELECT qid, vec_id, adc_dist, d_exact FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d_exact, vec_id) AS rn FROM rrd) WHERE rn <= $PqTopK),
      adctop AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY adc_dist, vec_id) AS rn FROM adc) WHERE rn <= $PqTopK),
      exd AS (SELECT qs.qid, e.vec_id,
          ${pqDistSql(PqM * PqSubD, "e.v", "qs.v")} AS d
        FROM q e, qsel qs),
      exact AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY d, vec_id) AS rn FROM exd) WHERE rn <= $PqTopK),
      counts AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
        FROM cand GROUP BY qid),
      ha AS (SELECT t.qid, COUNT(*) AS h FROM adctop t
        JOIN exact x ON x.qid = t.qid AND x.vec_id = t.vec_id GROUP BY t.qid),
      hr AS (SELECT t.qid, COUNT(*) AS h FROM rr t
        JOIN exact x ON x.qid = t.qid AND x.vec_id = t.vec_id GROUP BY t.qid)
      SELECT r.qid, r.vec_id, r.d_exact, r.adc_dist, c.n_cand,
        CAST(COALESCE(ha.h, 0) * 1000000 // $PqTopK AS BIGINT) AS recall_adc_ppm,
        CAST(COALESCE(hr.h, 0) * 1000000 // $PqTopK AS BIGINT) AS recall_rr_ppm
      FROM rr r JOIN counts c ON c.qid = r.qid
        LEFT JOIN ha ON ha.qid = r.qid LEFT JOIN hr ON hr.qid = r.qid
      ORDER BY r.qid, r.d_exact, r.vec_id"""
  }

  /** IVF-PQ — the full IVFADC retrieval architecture (Jégou et al.,
    * "Product quantization for nearest neighbor search"): the coarse
    * IVF quantizer of [[graft.analytics.DocQueries]]' q_ivf_topk and
    * the PQ codes of [[qPqRecall]] COMPOSED the way a billion-scale
    * index actually serves — codebooks trained on per-cell RESIDUALS
    * (v − c_cell has far lower variance than v, so the same M×k code
    * budget quantizes much finer), query-side top-2 multi-probe through
    * the fused [[graft.operators.FixedPointKMeans.best2Of]] kernel
    * (q_ivf_topk_mp's batch shape — no driver-side distance math on
    * the search path), per-(query, cell) ADC lookup tables built
    * IN-PLAN over batch-bounded relations, a code-only candidate scan
    * (M one-byte-equivalent codes per vector — vectors are never
    * touched until the re-rank), an ADC top-50 shortlist, and an exact
    * integer-L2 re-rank that fetches true vectors for 50 ids per
    * query, not for whole cells. Both accuracy certificates ride the
    * result under the hash gate: recall_adc_ppm (raw ADC top-20 vs
    * exact — what PQ compression alone costs) and recall_rr_ppm (the
    * served re-ranked top-20 vs exact — what the user sees; re-rank
    * recovers every ADC ordering error inside the shortlist, so
    * recall_rr ≥ recall_adc whenever the true neighbors entered the
    * candidate cells).
    *
    * Everything is exact shifted-integer arithmetic: residuals are
    * re-shifted by [[RShift]] so the codebook fits stay in the
    * truncate-equals-floor division regime, distances are fused
    * graft_dot_long compositions (|a−b|² = a·a + b·b − 2a·b — no
    * interpreted per-dim fold on any corpus-sized relation), and the
    * DuckDB oracle replays the ENTIRE pipeline — coarse Lloyd,
    * residuals, 4 residual-space codebook fits, encoding, probe
    * selection, ADC tables, shortlist, re-rank, certificates — so the
    * actual served rows hash-match, not a summary of them.
    *
    * Scale shape: the inverted file + codes relation is the 100 TB
    * artifact (M bytes/vector instead of 4d — written cell-partitioned
    * via [[graft.operators.IvfIndex]]'s layout, each probe a pruned
    * directory scan); codebooks and centroids are driver/broadcast
    * bounded (M·k·subD longs); the candidate scan is one broadcast
    * join + M broadcast LUT lookups, all map-side; shortlist, re-rank
    * and certificate all ride the bounded-heap
    * [[graft.plans.TopKPerKey]] operator. The |batch|×N exact
    * certificate is the declared verification baseline (q_ann_topk's
    * status), not the serving path. */
  val qIvfPqSearch = GraftQuery(
    "q_ivfpq_search",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      def dot(a: Column, b: Column): Column =
        call_function("graft_dot_long", a, b)
      def sqd(a: Column, b: Column): Column =
        dot(a, a) + dot(b, b) - lit(2L) * dot(a, b)
      val quant = Caches.register(Tables.embeddings(s, dir)
        .select($"vec_id", FixedPointKMeans.quantize(
          $"embedding".cast("array<double>")).as("v")))
      val cents = FixedPointKMeans.fit(quant, "vec_id", "v",
        IvfPqCoarseK, IvfPqRounds)
      val centMap = typedLit(cents.map { case (j, c) => j -> c }.toMap)
      // the inverted file + per-vector SHIFTED residual (one map pass)
      val res = Caches.register(FixedPointKMeans.assign(quant, "v", cents)
        .select($"vec_id", $"v", $"cluster",
          zip_with($"v", element_at(centMap, $"cluster"),
            (a, b) => a - b + lit(RShift)).as("rv")))
      // four independent residual-space codebooks via the shared
      // concurrent-fit helper (wall-clock of one fit)
      val books = fitPqBooks(res, "rv")
      // encode: M fused argmins per row, map-side — the stored codes
      val coded = Caches.register((0 until PqM).foldLeft(res.toDF()) {
        (df, m) => df.withColumn(s"c$m",
          FixedPointKMeans.bestOf(slice(col("rv"), m * PqSubD + 1, PqSubD),
            books(m))("j"))
      }.select($"vec_id" +: $"cluster" +:
          (0 until PqM).map(m => col(s"c$m")): _*))
      // the query batch picks its two probe cells IN-PLAN (fused top-2)
      val qs = Caches.register(quant.orderBy($"vec_id").limit(IvfPqQueries)
        .withColumn("b2", FixedPointKMeans.best2Of($"v", cents))
        .select($"vec_id".as("qid"), $"v".as("qv"),
          $"b2.j".as("c1"), $"b2.j2".as("c2")))
      val probes = qs
        .select($"qid", $"qv", explode(array($"c1", $"c2")).as("cluster"))
        .filter($"cluster" =!= -1)
      // per-(query, probed cell) shifted residual → the M×k ADC tables,
      // built in-plan over batch-bounded relations
      val qres = probes.withColumn("rv",
          zip_with($"qv", element_at(centMap, $"cluster"),
            (a, b) => a - b + lit(RShift)))
        .select($"qid", $"cluster", $"rv")
      val luts = (0 until PqM).map { m =>
        val bk = s.createDataFrame(books(m)).toDF("j", "c")
        qres.crossJoin(broadcast(bk)).select($"qid", $"cluster", $"j".as(s"c$m"),
          sqd(slice($"rv", m * PqSubD + 1, PqSubD), $"c").as(s"d$m"))
      }
      // candidate scan: cell-membership broadcast join + M broadcast LUT
      // lookups, all map-side; adc_dist is a table sum — codes only, no
      // vector is read until the re-rank
      val cand = Caches.register(luts.zipWithIndex.foldLeft(
          coded.join(broadcast(probes.select($"qid", $"cluster")),
            Seq("cluster"))) {
          case (df, (lut, m)) =>
            df.join(broadcast(lut), Seq("qid", "cluster", s"c$m"))
        }.select($"qid", $"vec_id",
          (0 until PqM).map(m => col(s"d$m")).reduce(_ + _).as("adc_dist")))
      val short = graft.plans.TopKPerKey.perKey(cand, Seq("qid"),
        Seq(("adc_dist", true), ("vec_id", true)), IvfPqShort)
      // exact integer-L2 re-rank: true vectors fetched for the 50
      // shortlisted ids per query, not for the probed cells
      val rr = graft.plans.TopKPerKey.perKey(
        short.join(quant, Seq("vec_id"))
          .join(broadcast(qs.select($"qid", $"qv")), Seq("qid"))
          .select($"qid", $"vec_id", $"adc_dist",
            sqd($"v", $"qv").as("d_exact")),
        Seq("qid"), Seq(("d_exact", true), ("vec_id", true)), PqTopK)
      val adcTop = graft.plans.TopKPerKey.perKey(cand, Seq("qid"),
        Seq(("adc_dist", true), ("vec_id", true)), PqTopK)
      // the exact certificate: |batch|×N fused integer-L2, bounded heap
      val exact = Caches.register(graft.plans.TopKPerKey.perKey(
        quant.crossJoin(broadcast(qs.select($"qid", $"qv")))
          .select($"qid", $"vec_id", sqd($"v", $"qv").as("d")),
        Seq("qid"), Seq(("d", true), ("vec_id", true)), PqTopK)
        .select($"qid", $"vec_id"))
      val counts = cand.groupBy($"qid").agg(count(lit(1)).as("n_cand"))
      val ha = adcTop.join(broadcast(exact), Seq("qid", "vec_id"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("ha"))
      val hr = rr.join(broadcast(exact), Seq("qid", "vec_id"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("hr"))
      rr.join(broadcast(counts), Seq("qid"))
        .join(broadcast(ha), Seq("qid"), "left")
        .join(broadcast(hr), Seq("qid"), "left")
        .select($"qid", $"vec_id", $"d_exact", $"adc_dist", $"n_cand",
          expr(s"CAST(coalesce(ha, 0) * 1000000 DIV $PqTopK AS BIGINT)")
            .as("recall_adc_ppm"),
          expr(s"CAST(coalesce(hr, 0) * 1000000 DIV $PqTopK AS BIGINT)")
            .as("recall_rr_ppm"))
        .orderBy($"qid", $"d_exact", $"vec_id")
    },
    Some(ivfPqOracleSql)
  )

  /** k-center greedy coreset (farthest-first traversal, k = 8) over the
    * quantized embedding relation — the 2-approximation data-selection
    * primitive behind diversity sampling: each round picks the point
    * farthest from every chosen center (max-min integer distance, tie
    * broken by min vec_id), so the k-th pick's distance IS the coverage
    * radius of the (k−1)-center set. Runs in the same shifted-integer
    * arithmetic as [[qKmeans]]; the emitted `coverage_radius_l2`
    * converts back to original units via one sqrt of the exact integer.
    * Scale shape: one cached scan per round folding a ≤k×d centroid
    * literal map-side (no shuffle at all — the argmax is a 1-row
    * aggregate), driver state = k quantized vectors; the oracle replays
    * all 8 rounds as an unrolled CTE chain. */
  val qCoreset = GraftQuery(
    "q_coreset",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val emb = graft.operators.Caches.register(
        Tables.embeddings(s, dir).select($"vec_id",
          FixedPointKMeans.quantize($"embedding").as("v")))
      val first = emb.orderBy($"vec_id").limit(1).select($"vec_id", $"v").head()
      var centers = Vector((0, first.getLong(0), first.getSeq[Long](1)))
      val rows = Vector.newBuilder[(Long, Long, Long)]
      for (r <- 1 to 8) {
        val p = FixedPointKMeans.assign(emb, "v",
            centers.map { case (j, _, c) => (j, c) })
          .orderBy($"dist".desc, $"vec_id").limit(1)
          .select($"vec_id", $"v", $"dist").head()
        rows += ((r.toLong, centers(r - 1)._2, p.getLong(2)))
        if (r < 8) centers :+= ((r, p.getLong(0), p.getSeq[Long](1)))
      }
      s.createDataFrame(rows.result()).toDF("k", "center_id", "radius_q")
        .select($"k", $"center_id", $"radius_q",
          round(sqrt($"radius_q".cast("double")) / QScale, 6).as("coverage_radius_l2"))
        .orderBy($"k")
    },
    Some {
      def dist(v: String, c: String) = kmeansDistSql(v, c)
      val rounds = (1 to 8).map { r =>
        val prevPick = if (r == 1) "s0" else s"p${r - 1}"
        val prevD = if (r == 1) "q" else s"d${r - 1}"
        val dminExpr =
          if (r == 1) s"${dist("q.v", "s0.v")}"
          else s"LEAST($prevD.dmin, ${dist(s"$prevD.v", s"$prevPick.v")})"
        s"""d$r AS (SELECT $prevD.vec_id, $prevD.v, $dminExpr AS dmin
            FROM $prevD, $prevPick),
          p$r AS (SELECT vec_id, v, dmin FROM d$r ORDER BY dmin DESC, vec_id LIMIT 1)"""
      }.mkString(",\n")
      val outRows = (1 to 8).map { r =>
        val center = if (r == 1) "s0" else s"p${r - 1}"
        s"""SELECT $r AS k, $center.vec_id AS center_id,
            CAST(p$r.dmin AS BIGINT) AS radius_q,
            ROUND(SQRT(CAST(p$r.dmin AS DOUBLE)) / $QScale, 6) AS coverage_radius_l2
          FROM $center, p$r"""
      }.mkString("\nUNION ALL\n")
      s"""WITH q AS (SELECT vec_id,
          list_transform(CAST(embedding AS DOUBLE[]),
            x -> CAST(FLOOR(x * $QScale + 0.5) AS BIGINT) + $QShift) AS v
        FROM embeddings),
        s0 AS (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 1),
        $rounds
        SELECT CAST(k AS BIGINT) AS k, center_id, radius_q, coverage_radius_l2
        FROM ($outRows) ORDER BY k"""
    }
  )

  private val NmfRounds = 3

  /** The DuckDB replay of [[qNmfTopics]]'s multiplicative updates: one
    * CTE block per round (wh → H-update → wh with the new H → W-update),
    * generated by the same loop bounds the Spark side runs. Lateral
    * column aliases (w0/h0/wh) keep the double expressions literally
    * identical to the Spark withColumn chain. */
  private val nmfOracle: String = {
    def winit(k: Int) = s"1000000 + ((tid * 3 + $k) % 5) * 250000"
    def hinit(k: Int) = s"1000000 + ((sid * 3 + $k) % 7) * 200000"
    def whCte(name: String, pw: String, hrel: String) =
      s"""$name AS (SELECT v.tid, v.sid, v.v,
        CAST(w0fp AS DOUBLE) / 1000000.0 AS w0,
        CAST(w1fp AS DOUBLE) / 1000000.0 AS w1,
        CAST(w2fp AS DOUBLE) / 1000000.0 AS w2,
        CAST(h0fp AS DOUBLE) / 1000000.0 AS h0,
        CAST(h1fp AS DOUBLE) / 1000000.0 AS h1,
        CAST(h2fp AS DOUBLE) / 1000000.0 AS h2,
        w0 * h0 + w1 * h1 + w2 * h2 AS wh
      FROM v JOIN $pw ON $pw.tid = v.tid JOIN $hrel ON $hrel.sid = v.sid)"""
    def updCase(cur: String, k: Int) =
      s"""CASE WHEN d$k = 0 THEN ${cur}${k}fp
        ELSE CAST(FLOOR(CAST(${cur}${k}fp AS DOUBLE) / 1000000.0 *
          (CAST(n$k AS DOUBLE) / CAST(d$k AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        END AS ${cur}${k}fp"""
    val rounds = (1 to NmfRounds).map { r =>
      val pw = s"wm${r - 1}"; val ph = s"hm${r - 1}"
      def sums(a: String, b: String) = (0 to 2).map { k =>
        s"""CAST(SUM(CAST(FLOOR($a$k * $b * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS n$k,
        CAST(SUM(CAST(FLOOR($a$k * wh * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS d$k"""
      }.mkString(",\n        ")
      s"""${whCte(s"wha$r", pw, ph)},
      hu$r AS (SELECT sid,
        ${sums("w", "v")}
      FROM wha$r GROUP BY 1),
      hm$r AS MATERIALIZED (SELECT h.sid,
        ${(0 to 2).map(updCase("h", _)).mkString(",\n        ")}
      FROM $ph h JOIN hu$r USING (sid)),
      ${whCte(s"whb$r", pw, s"hm$r")},
      wu$r AS (SELECT tid,
        ${(0 to 2).map { k =>
          s"""CAST(SUM(CAST(FLOOR(v * h$k * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS n$k,
        CAST(SUM(CAST(FLOOR(wh * h$k * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS d$k"""
        }.mkString(",\n        ")}
      FROM whb$r GROUP BY 1),
      wm$r AS MATERIALIZED (SELECT w.tid,
        ${(0 to 2).map(updCase("w", _)).mkString(",\n        ")}
      FROM $pw w JOIN wu$r USING (tid))"""
    }.mkString(",\n      ")
    s"""WITH occ AS (SELECT source,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> x <> '')) AS token
      FROM documents),
      topt AS MATERIALIZED (SELECT token, freq,
          CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS tid
        FROM (SELECT token, COUNT(*) AS freq FROM occ GROUP BY 1)
        ORDER BY freq DESC, token LIMIT 50),
      cc AS (SELECT t.tid, CAST(substring(o.source, 4) AS BIGINT) AS sid,
          COUNT(*) AS c
        FROM occ o JOIN topt t ON t.token = o.token GROUP BY 1, 2),
      sids AS (SELECT DISTINCT CAST(substring(source, 4) AS BIGINT) AS sid
        FROM documents),
      v AS MATERIALIZED (SELECT topt.tid, sids.sid,
          CAST(COALESCE(cc.c, 0) AS BIGINT) AS v
        FROM topt CROSS JOIN sids
        LEFT JOIN cc ON cc.tid = topt.tid AND cc.sid = sids.sid),
      wm0 AS MATERIALIZED (SELECT tid, ${winit(0)} AS w0fp, ${winit(1)} AS w1fp,
          ${winit(2)} AS w2fp FROM topt),
      hm0 AS MATERIALIZED (SELECT sid, ${hinit(0)} AS h0fp, ${hinit(1)} AS h1fp,
          ${hinit(2)} AS h2fp FROM sids),
      $rounds,
      melt AS (SELECT 0 AS factor, t.token, w.w0fp AS wfp
          FROM wm$NmfRounds w JOIN topt t USING (tid)
        UNION ALL SELECT 1, t.token, w.w1fp
          FROM wm$NmfRounds w JOIN topt t USING (tid)
        UNION ALL SELECT 2, t.token, w.w2fp
          FROM wm$NmfRounds w JOIN topt t USING (tid)),
      rk AS (SELECT factor, token, wfp,
          ROW_NUMBER() OVER (PARTITION BY factor ORDER BY wfp DESC, token) AS rnk
        FROM melt)
      SELECT CAST(factor AS BIGINT) AS factor, CAST(rnk AS BIGINT) AS rank,
        token, ROUND(wfp / 1000000.0, 6) AS weight
      FROM rk WHERE rnk <= 5 ORDER BY factor, rank"""
  }

  /** Deterministic NMF topic model: Lee–Seung multiplicative updates
    * (Frobenius objective) on the dense top-50-token × source count
    * matrix, 3 unrolled rounds, 3 factors, replayed CTE-for-CTE by
    * [[nmfOracle]]. Determinism discipline: W/H live as ppm fixed-point
    * BIGINTs between rounds; every Σ_t / Σ_s in the update ratios is a
    * sum of per-cell FLOOR(…·10⁶) integers (order-free), the 3-term
    * inner product Σ_k w_k·h_k is a fixed-order double expression, and
    * each updated entry re-quantizes to ppm — so both engines walk the
    * identical integer trajectory. Scale shape: the corpus-sized work is
    * ONE token rollup; the iteration runs on the 50×20 grid (broadcast
    * joins, localCheckpoint per round), so rounds cost the same at any
    * corpus size. */
  /** q_nmf_topics's engine body, factored so the spec can pin the two
    * MM-loop paths equal (gated by [[graft.operators.DriverLoop]]). */
  private[graft] def nmfTopicsFrame(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    locally {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val S = 1000000.0
      val tokc = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select(expr("cast(substring(source, 4) as bigint)").as("sid"),
            explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token", $"sid").agg(count(lit(1)).as("c")))
      val top = tokc.groupBy($"token").agg(sum($"c").as("freq"))
        .orderBy($"freq".desc, $"token").limit(50)
        .withColumn("tid",
          row_number().over(Window.orderBy($"freq".desc, $"token")).cast("long"))
        .select($"token", $"tid")
      val cc = tokc.join(broadcast(top), "token")
        .select($"tid", $"sid", $"c")
      val sids = tokc.select($"sid").distinct()
      val v = graft.operators.Caches.register(
        top.join(broadcast(sids)) // 50×20 grid: missing cells are true zeros
          .join(cc, Seq("tid", "sid"), "left")
          .select($"tid", $"sid", coalesce($"c", lit(0L)).as("v")))
      // Grid-sized MM state takes the 3 rounds in driver arrays — the
      // round-15 small-state routing discipline (DriverLoop):
      // the corpus rollup above stays distributed; the collected grid is
      // |top 50| × |sources| rows. Every arithmetic expression is
      // replicated tree-for-tree (same IEEE double ops in the same
      // association order, same floor(·1e6 + 0.5) quantizations, Long
      // sums that commute), so the trajectory is bit-identical — the
      // unrolled-CTE oracle hash-gates it at both SFs. Grids beyond the
      // gate (unbounded source domain) take the distributed loop below.
      val vCnt = v.count()
      if (vCnt <= DriverLoop.maxRows) {
        val S2 = S // avoid closure confusion; S = 1e6
        val grid = v.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val topRows = top.collect().map(r => (r.getString(0), r.getLong(1)))
        val tids = topRows.map(_._2)
        val sidArr = grid.map(_._2).distinct
        def initV(id: Long, k: Int, m: Long, step: Long): Long =
          1000000L + ((id * 3 + k) % m) * step
        val wf = scala.collection.mutable.HashMap(tids.map(t =>
          t -> Array.tabulate(3)(k => initV(t, k, 5L, 250000L))): _*)
        val hf = scala.collection.mutable.HashMap(sidArr.map(sd =>
          sd -> Array.tabulate(3)(k => initV(sd, k, 7L, 200000L))): _*)
        def upd1(cur: Long, n: Long, d: Long): Long =
          if (d == 0L) cur
          else math.floor(cur.toDouble / S2 * (n.toDouble / d.toDouble) * S2 + 0.5).toLong
        for (_ <- 1 to NmfRounds) {
          // h update: per-sid sums of floor(w_k·v·S + .5) / floor(w_k·wh·S + .5)
          val hn = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
          val hd = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
          grid.foreach { case (tid, sid, vv) =>
            val wv = wf(tid); val hv = hf(sid)
            val w0 = wv(0).toDouble / S2; val w1 = wv(1).toDouble / S2
            val w2 = wv(2).toDouble / S2
            val h0 = hv(0).toDouble / S2; val h1 = hv(1).toDouble / S2
            val h2 = hv(2).toDouble / S2
            val wh = w0 * h0 + w1 * h1 + w2 * h2
            val nn = hn.getOrElseUpdate(sid, new Array[Long](3))
            val dd = hd.getOrElseUpdate(sid, new Array[Long](3))
            val ws = Array(w0, w1, w2)
            var k = 0
            while (k < 3) {
              nn(k) += math.floor(ws(k) * vv * S2 + 0.5).toLong
              dd(k) += math.floor(ws(k) * wh * S2 + 0.5).toLong
              k += 1
            }
          }
          sidArr.foreach { sid =>
            val cur = hf(sid); val nn = hn(sid); val dd = hd(sid)
            hf(sid) = Array.tabulate(3)(k => upd1(cur(k), nn(k), dd(k)))
          }
          // w update against the UPDATED h: floor(v·h_k·S + .5) / floor(wh·h_k·S + .5)
          val wn = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
          val wd = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
          grid.foreach { case (tid, sid, vv) =>
            val wv = wf(tid); val hv = hf(sid)
            val w0 = wv(0).toDouble / S2; val w1 = wv(1).toDouble / S2
            val w2 = wv(2).toDouble / S2
            val h0 = hv(0).toDouble / S2; val h1 = hv(1).toDouble / S2
            val h2 = hv(2).toDouble / S2
            val wh = w0 * h0 + w1 * h1 + w2 * h2
            val nn = wn.getOrElseUpdate(tid, new Array[Long](3))
            val dd = wd.getOrElseUpdate(tid, new Array[Long](3))
            val hs = Array(h0, h1, h2)
            var k = 0
            while (k < 3) {
              nn(k) += math.floor(vv * hs(k) * S2 + 0.5).toLong
              dd(k) += math.floor(wh * hs(k) * S2 + 0.5).toLong
              k += 1
            }
          }
          tids.foreach { tid =>
            val cur = wf(tid); val nn = wn(tid); val dd = wd(tid)
            wf(tid) = Array.tabulate(3)(k => upd1(cur(k), nn(k), dd(k)))
          }
        }
        // top-5 per factor by (wfp desc, token asc in UTF-8 byte order —
        // Bpe.utf8Less ≡ the engine's UTF8String binary order on any
        // alphabet; today's tokens are ASCII where the two coincide, but
        // the driver loops compare bytes uniformly so the equality never
        // depends on the tokenizer's alphabet)
        val outRows = (0 to 2).flatMap { k =>
          topRows.map { case (token, tid) => (token, wf(tid)(k)) }
            .sortWith { case ((ta, wa), (tb, wb)) =>
              wa > wb || (wa == wb && graft.operators.Bpe.utf8Less(ta, tb)) }
            .take(5).zipWithIndex
            .map { case ((token, w), i) =>
              org.apache.spark.sql.Row(k.toLong, (i + 1).toLong, token, w) }
        }
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        s.createDataFrame(java.util.Arrays.asList(outRows: _*),
            StructType(Seq(
              StructField("factor", LongType, nullable = false),
              StructField("rank", LongType, nullable = false),
              StructField("token", StringType, nullable = false),
              StructField("wfp", LongType, nullable = false))))
          .select($"factor", $"rank", $"token",
            round($"wfp" / 1000000.0, 6).as("weight"))
          .orderBy($"factor", $"rank")
      } else {
      def init(id: Column, k: Int, m: Long, step: Long) =
        lit(1000000L) + ((id * 3 + k) % m) * step
      var w = top.select($"tid",
        init($"tid", 0, 5L, 250000L).as("w0fp"),
        init($"tid", 1, 5L, 250000L).as("w1fp"),
        init($"tid", 2, 5L, 250000L).as("w2fp")).localCheckpoint()
      var h = sids.select($"sid",
        init($"sid", 0, 7L, 200000L).as("h0fp"),
        init($"sid", 1, 7L, 200000L).as("h1fp"),
        init($"sid", 2, 7L, 200000L).as("h2fp")).localCheckpoint()
      def withWh(wdf: DataFrame, hdf: DataFrame): DataFrame = {
        var d = v.join(broadcast(wdf), "tid").join(broadcast(hdf), "sid")
        Seq("w0" -> "w0fp", "w1" -> "w1fp", "w2" -> "w2fp",
          "h0" -> "h0fp", "h1" -> "h1fp", "h2" -> "h2fp").foreach { case (a, fp) =>
          d = d.withColumn(a, col(fp).cast("double") / S)
        }
        d.withColumn("wh", $"w0" * $"h0" + $"w1" * $"h1" + $"w2" * $"h2")
      }
      def upd(cur: String, k: Int) =
        when(col(s"d$k") === 0L, col(s"$cur${k}fp")).otherwise(
          floor(col(s"$cur${k}fp").cast("double") / S *
            (col(s"n$k").cast("double") / col(s"d$k").cast("double")) * S + 0.5)
            .cast("long")).as(s"$cur${k}fp")
      for (_ <- 1 to NmfRounds) {
        val wha = withWh(w, h)
        val hu = wha.groupBy($"sid").agg(
          sum(floor($"w0" * $"v" * S + 0.5).cast("long")).as("n0"),
          sum(floor($"w0" * $"wh" * S + 0.5).cast("long")).as("d0"),
          sum(floor($"w1" * $"v" * S + 0.5).cast("long")).as("n1"),
          sum(floor($"w1" * $"wh" * S + 0.5).cast("long")).as("d1"),
          sum(floor($"w2" * $"v" * S + 0.5).cast("long")).as("n2"),
          sum(floor($"w2" * $"wh" * S + 0.5).cast("long")).as("d2"))
        h = h.join(hu, "sid")
          .select($"sid", upd("h", 0), upd("h", 1), upd("h", 2))
          .localCheckpoint()
        val whb = withWh(w, h)
        val wu = whb.groupBy($"tid").agg(
          sum(floor($"v" * $"h0" * S + 0.5).cast("long")).as("n0"),
          sum(floor($"wh" * $"h0" * S + 0.5).cast("long")).as("d0"),
          sum(floor($"v" * $"h1" * S + 0.5).cast("long")).as("n1"),
          sum(floor($"wh" * $"h1" * S + 0.5).cast("long")).as("d1"),
          sum(floor($"v" * $"h2" * S + 0.5).cast("long")).as("n2"),
          sum(floor($"wh" * $"h2" * S + 0.5).cast("long")).as("d2"))
        w = w.join(wu, "tid")
          .select($"tid", upd("w", 0), upd("w", 1), upd("w", 2))
          .localCheckpoint()
      }
      val melt = (0 to 2).map { k =>
        w.join(broadcast(top), "tid")
          .select(lit(k.toLong).as("factor"), $"token", col(s"w${k}fp").as("wfp"))
      }.reduce(_ union _)
      melt
        .withColumn("rank", row_number().over(
          Window.partitionBy($"factor").orderBy($"wfp".desc, $"token")).cast("long"))
        .filter($"rank" <= 5)
        .select($"factor", $"rank", $"token",
          round($"wfp" / 1000000.0, 6).as("weight"))
        .orderBy($"factor", $"rank")
      }
    }
  }

  val qNmfTopics = GraftQuery(
    "q_nmf_topics",
    (s, dir) => nmfTopicsFrame(s, dir),
    Some(nmfOracle)
  )

  val all: Seq[GraftQuery] =
    Seq(qKmeans, qSemdedup, qSemdedupSweep, qSemdedup2l, qSemdedup2lMp,
      qSemdedupAuto,
      qPqRecall, qOpqRecall, qPrefixDimRecall, qIvfPqSearch, qSourceKl,
      qHeapsLaw,
      qZipfFit, qCoreset, qNmfTopics)
}
