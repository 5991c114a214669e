package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** Embedding-space PCA diagnostics: eigen-decompose the covariance of an
  * embedding column and report the spectrum — effective dimensionality,
  * dead directions, anisotropy — the standard health check before
  * clustering or ANN-indexing a corpus's embeddings.
  *
  * Scale split: the CORPUS work is one pass through the fused
  * [[graft.expressions.GramMatrix]] aggregate (bounded d(d+3)/2-long
  * state per partition, partials merge map-side — the same machinery as
  * q_embed_covariance); only the finished d×d covariance — d(d+1)/2
  * doubles, ~17 KB at d=64 — lands on the driver, where a cyclic Jacobi
  * sweep (O(d³) per sweep on a TINY matrix) extracts eigenvalues. The
  * same bounded-driver-state pattern as IvfIndex's centroids.
  *
  * No SQL oracle is possible (the eigensolver is iterative), so the
  * result SELF-CERTIFIES: the trace of the covariance and the sum of
  * ALL eigenvalues ride along as columns — they are equal by the
  * spectral theorem, and `trace_gap` ≈ 0 certifies the decomposition
  * without trusting it. Eigenvalue accuracy is spec-pinned on known
  * matrices. */
object Pca {

  /** Cyclic Jacobi eigenvalues of a symmetric matrix, descending.
    * Converges quadratically; `maxSweeps` bounds degenerate input. */
  private[operators] def jacobiEigenvalues(
      a0: Array[Array[Double]], maxSweeps: Int = 100): Array[Double] = {
    val d = a0.length
    val a = a0.map(_.clone())
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < maxSweeps && off > 1e-12) {
      off = 0.0
      for (p <- 0 until d; q <- p + 1 until d) {
        off += 2 * a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-15) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          // sign(0) must be 1 (the 45-degree rotation) — math.signum(0)=0
          // would make the equal-diagonal case a no-op and never converge
          val sgn = if (theta >= 0) 1.0 else -1.0
          val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1 / math.sqrt(t * t + 1)
          val s = t * c
          for (k <- 0 until d) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until d) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
        }
      }
      sweep += 1
    }
    (0 until d).map(i => a(i)(i)).toArray.sorted(Ordering[Double].reverse)
  }

  /** The d×d covariance matrix of `vecCol` on the driver: one corpus
    * pass through the fused GramMatrix aggregate, then its d(d+1)/2
    * upper-triangle cells (~2k at d=64) mirrored into a dense matrix. */
  private def covarianceMatrix(df: DataFrame, vecCol: String): Array[Array[Double]] = {
    val cells = df.select(col(vecCol).cast("array<double>").as("v"))
      .agg(graft.expressions.GramMatrix.gram(col("v")).as("g"))
      .select(inline(col("g")))
      .select(col("i"), col("j"), col("cov"))
      .collect()
    require(cells.nonEmpty, "Pca: empty input")
    val d = cells.iterator.map(_.getInt(1)).max
    val m = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val i = r.getInt(0) - 1; val j = r.getInt(1) - 1; val c = r.getDouble(2)
      m(i)(j) = c; m(j)(i) = c
    }
    m
  }

  /** Top-`topK` covariance eigenvalues of `vecCol` with explained-share
    * and the trace-identity certificate. Output: (rank, eigenvalue,
    * explained_share, trace, eig_sum, trace_gap). */
  def covarianceSpectrum(df: DataFrame, vecCol: String, topK: Int): DataFrame = {
    require(topK > 0, s"topK=$topK must be positive")
    val spark = df.sparkSession
    val m = covarianceMatrix(df, vecCol)
    val d = m.length
    val trace = (0 until d).map(i => m(i)(i)).sum
    val eig = jacobiEigenvalues(m)
    val eigSum = eig.sum
    val rows = new java.util.ArrayList[Row]()
    eig.take(topK).zipWithIndex.foreach { case (ev, idx) =>
      rows.add(Row(idx + 1, math.rint(ev * 1e6) / 1e6,
        math.rint(ev / trace * 1e6) / 1e6,
        math.rint(trace * 1e6) / 1e6, math.rint(eigSum * 1e6) / 1e6,
        math.rint(math.abs(eigSum - trace) * 1e9) / 1e9))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("eigenvalue", DoubleType, nullable = false),
      StructField("explained_share", DoubleType, nullable = false),
      StructField("trace", DoubleType, nullable = false),
      StructField("eig_sum", DoubleType, nullable = false),
      StructField("trace_gap", DoubleType, nullable = false))))
  }

  /** Top-`topK` covariance eigenvalues by DEFLATED max-norm power
    * iteration in PURE SEQUENTIAL double arithmetic — the fully
    * oracle-replayable spectrum: each rank runs `rounds` power steps on
    * the current matrix, takes the Rayleigh quotient as the eigenvalue
    * estimate (with a max-norm residual certificate riding along), then
    * deflates Aₙₑₓₜ = A − λ·(v vᵀ)/(vᵀv) and repeats. Every multiply /
    * add / divide is in a pinned order (ascending index, left-assoc),
    * so a SQL engine replays the identical IEEE bits through all ranks
    * — the induction base is the GramMatrix fixed-point covariance,
    * whose cross-engine exactness q_embed_covariance already gates.
    *
    * This is the HASHABLE spectrum; [[covarianceSpectrum]]'s Jacobi
    * sweep remains the API for exact eigenvalues (quadratic
    * convergence), cross-checked against this within the residual
    * tolerance in PcaSpec. `resid_rel` per rank is the honest accuracy
    * statement — on a flat spectrum the power estimates converge
    * slowly, and deflation compounds whatever error the certificate
    * reports; what CANNOT drift is cross-engine agreement. `topK = 1`
    * is the plain top-eigenvalue power iteration (q_embed_top_eigen).
    *
    * Scale: one corpus pass (the fused Gram aggregate); everything
    * after runs on the d×d driver matrix — topK·rounds O(d²) matvecs on
    * ~17 KB of state. Output per rank: (rank, eigenvalue,
    * explained_share, resid_rel, trace), all through the portable
    * floor(x·1e6 + 0.5)/1e6. */
  def deflatedSpectrum(df: DataFrame, vecCol: String,
      topK: Int, rounds: Int): DataFrame = {
    require(topK >= 1 && rounds >= 1, s"topK=$topK rounds=$rounds must be >= 1")
    val spark = df.sparkSession
    val m = covarianceMatrix(df, vecCol)
    val d = m.length
    require(topK <= d, s"topK=$topK exceeds dimension $d")
    // all folds below run in ascending index order — the exact order the
    // oracle's list_reduce replays
    var trace = 0.0
    locally { var i = 0; while (i < d) { trace += m(i)(i); i += 1 } }
    def matvec(x: Array[Double]): Array[Double] = Array.tabulate(d) { i =>
      var s = 0.0; var j = 0
      while (j < d) { s += m(i)(j) * x(j); j += 1 }
      s
    }
    def fp6(x: Double) = math.floor(x * 1000000.0 + 0.5) / 1000000.0
    val out = new java.util.ArrayList[Row]()
    for (r <- 1 to topK) {
      val v = Array.fill(d)(1.0)
      for (_ <- 1 to rounds) {
        val raw = matvec(v)
        var mx = 0.0
        locally { var i = 0; while (i < d) {
          val a = math.abs(raw(i)); if (a > mx) mx = a; i += 1 } }
        require(mx > 0, s"deflatedSpectrum: zero matrix at rank $r")
        var i = 0
        while (i < d) { v(i) = raw(i) / mx; i += 1 }
      }
      val rf = matvec(v)
      var num = 0.0; var den = 0.0
      locally { var k = 0; while (k < d) {
        num += v(k) * rf(k); den += v(k) * v(k); k += 1 } }
      val ray = num / den
      var resid = 0.0
      locally { var k = 0; while (k < d) {
        val a = math.abs(rf(k) - ray * v(k)); if (a > resid) resid = a; k += 1 } }
      out.add(Row(r, fp6(ray), fp6(ray / trace), fp6(resid / math.abs(ray)),
        fp6(trace)))
      // deflate IN the pinned expression order the oracle replays:
      // m - ((ray * v_i) * v_k) / den
      var i = 0
      while (i < d) {
        var k = 0
        while (k < d) { m(i)(k) = m(i)(k) - ray * v(i) * v(k) / den; k += 1 }
        i += 1
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("eigenvalue", DoubleType, nullable = false),
      StructField("explained_share", DoubleType, nullable = false),
      StructField("resid_rel", DoubleType, nullable = false),
      StructField("trace", DoubleType, nullable = false))))
  }
}
