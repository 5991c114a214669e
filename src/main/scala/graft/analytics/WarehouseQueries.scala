package graft.analytics

import graft.{GraftQuery, Tables}
import graft.functions.TextAnalysis
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Warehouse-maintenance query shapes: type-2 history assembly, corpus
  * duplication accounting, and embedding-space health stats — the
  * periodic jobs that run NEXT to an ingest pipeline rather than inside
  * a single query.
  *
  * Scale notes: SCD2 windows partition by customer (never global);
  * duplication accounting shuffles only (source, 16-byte fingerprint);
  * norm stats are map-side per-vector folds with a tiny per-label
  * rollup.
  */
object WarehouseQueries {

  /** Slowly-changing-dimension TYPE-2 build from an order event log:
    * collapse each customer's consecutive same-status runs into
    * versioned validity intervals (valid_from inclusive, valid_to
    * exclusive, open interval = '9999-12-31'). The run-id is the
    * classic gaps-and-islands double window: change flag via lag, then
    * a running sum — both over (o_orderdate, o_orderkey), a total
    * order, so versions are deterministic under any partitioning. */
  val qScd2History = GraftQuery(
    "q_scd2_history",
    (s, dir) => {
      import s.implicits._
      graft.operators.History.scd2(
        Tables.orders(s, dir)
          .select($"o_custkey", $"o_orderstatus", $"o_orderdate", $"o_orderkey"),
        keyCol = "o_custkey", valueCol = "o_orderstatus",
        orderCols = Seq("o_orderdate", "o_orderkey"))
        .select($"o_custkey", $"version", $"o_orderstatus",
          date_format($"valid_from", "yyyy-MM-dd").as("valid_from"),
          coalesce(date_format($"valid_to", "yyyy-MM-dd"), lit("9999-12-31")).as("valid_to"),
          $"n_rows".as("n_orders"))
        .orderBy($"o_custkey", $"version")
    },
    Some("""WITH seq AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
        -- null-safe, mirroring History.scd2: first-row detection via
        -- ROW_NUMBER (not LAG IS NULL, which conflates a null value with
        -- the partition start) and IS DISTINCT FROM for the comparison
        CASE WHEN ROW_NUMBER() OVER w = 1
               OR LAG(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
             THEN 1 ELSE 0 END AS chg
      FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      per AS (SELECT o_custkey, o_orderstatus, o_orderdate,
        SUM(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      FROM seq),
      g AS (SELECT o_custkey, CAST(version AS BIGINT) AS version,
        MIN(o_orderstatus) AS o_orderstatus,
        MIN(o_orderdate) AS vf, COUNT(*) AS n_orders
      FROM per GROUP BY 1, 2)
      SELECT o_custkey, version, o_orderstatus,
        STRFTIME(vf, '%Y-%m-%d') AS valid_from,
        COALESCE(STRFTIME(LEAD(vf) OVER (PARTITION BY o_custkey ORDER BY version), '%Y-%m-%d'),
          '9999-12-31') AS valid_to,
        n_orders
      FROM g ORDER BY o_custkey, version""")
  )

  /** Corpus duplication accounting per source: docs, distinct content
    * fingerprints, and the inflation factor — the "how much of this
    * provider is copies" report that decides dedup priority. Only
    * (source, md5) pairs shuffle. Exact countDistinct here; at corpus
    * scale the KMV sketch (q_kmv_distinct) is the approximate twin. */
  val qDupInflation = GraftQuery(
    "q_dup_inflation",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"source", TextAnalysis.fingerprint($"text").as("fp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"fp").as("n_unique"))
        .withColumn("n_dup_docs", $"n_docs" - $"n_unique")
        .withColumn("inflation", round($"n_docs".cast(DoubleType) / $"n_unique", 6))
        .orderBy($"source")
    },
    Some("""WITH f AS (SELECT source,
        md5(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fp
      FROM documents)
      SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
        COUNT(*) - COUNT(DISTINCT fp) AS n_dup_docs,
        ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT fp), 6) AS inflation
      FROM f GROUP BY source ORDER BY source""")
  )

  /** Near-dup CLUSTER SIZE histogram — the dedup-observability report
    * behind retention planning: how many 2-clusters vs giant blobs the
    * pair graph produces (a fat tail means the similarity threshold or
    * df-cap needs tightening BEFORE survivors are picked). Reuses the
    * shingle→df-cap→pair→closure chain of q_dedup_components and rolls
    * the (id, label) relation up twice: label→size, then size→count.
    * Both rollups shuffle rows bounded by the CLUSTERED doc count (≪
    * corpus), and the histogram itself is at most max-cluster-size rows.
    * The DuckDB oracle validates the full chain via a recursive CTE. */
  val qDupClusterSizes = GraftQuery(
    "q_dup_cluster_sizes",
    (s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", k = 3, minJaccard = 0.5, maxDf = 100)
      graft.operators.Dedup.connectedComponents(pairs)
        .groupBy($"label")
        .agg(count(lit(1)).as("sz"))
        .groupBy($"sz".as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", $"cluster_size" * $"n_clusters")
        .orderBy($"cluster_size")
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+3], ' ') for i in range(0, LEN(ts)-2)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      freq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq USING (s) WHERE freq.df <= 100),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (SELECT id_a, id_b
        FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE inter * 100 >= (na.n + nb.n - inter) * 50),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      walk(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT w.src, e.b FROM walk w JOIN edges e ON w.dst = e.a),
      comp AS (SELECT src AS id, MIN(dst) AS label FROM walk GROUP BY src),
      cs AS (SELECT label, COUNT(*) AS sz FROM comp GROUP BY label)
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
        CAST(sz * COUNT(*) AS BIGINT) AS n_docs
      FROM cs GROUP BY sz ORDER BY sz""")
  )

  /** Per-label embedding norm health: n, min/max/mean of ‖v‖² — the
    * drift check run over every embedding batch (an off-scale norm
    * cluster means a broken encoder or un-normalized shard). The fold
    * runs left-to-right over the array in BOTH engines (Spark aggregate
    * ≡ DuckDB list_reduce seeded via prepend), float→double widening is
    * exact, so the per-row norm is bit-identical; the per-label mean
    * then sums 6dp-rounded decimals — order-independent. Map-only until
    * the tiny per-label rollup. */
  val qEmbedNorms = GraftQuery(
    "q_embed_norms",
    (s, dir) => {
      import s.implicits._
      val norm2 = aggregate(
        transform($"embedding", x => x.cast(DoubleType) * x.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
      Tables.embeddings(s, dir)
        .select($"label", round(norm2, 6).as("r6"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          min($"r6").as("min_norm2"), max($"r6").as("max_norm2"),
          round(sum($"r6".cast(DecimalType(18, 6))).cast(DoubleType) / count(lit(1)), 6)
            .as("avg_norm2"))
        .orderBy($"label")
    },
    Some("""WITH n AS (SELECT label,
        ROUND(list_reduce(
          list_prepend(CAST(0 AS DOUBLE),
            list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
          (a, b) -> a + b), 6) AS r6
      FROM embeddings)
      SELECT label, COUNT(*) AS n_vecs, MIN(r6) AS min_norm2, MAX(r6) AS max_norm2,
        ROUND(CAST(SUM(CAST(r6 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_norm2
      FROM n GROUP BY label ORDER BY label""")
  )

  /** Per-label embedding CENTROIDS, flat (label, pos, centroid) rows —
    * the class-mean report behind drift detection, coarse clustering
    * seeds, and nearest-class-mean baselines. One posexplode + one
    * grouped aggregate: (labels × dims) output rows regardless of corpus
    * size, and the shuffle carries (label, pos, partial-sum) partials,
    * never vectors. Parity is FIXED-POINT end to end: components
    * quantize to integer micro-units via floor(x·10⁶ + 0.5) (pure IEEE
    * multiply/add/floor — identical in any engine), the sum is exact
    * BIGINT (order-independent), and the mean re-quantizes the same way.
    * ROUND-on-double is deliberately avoided: its half-up behavior
    * differs across engines exactly at representation boundaries (one
    * 6th-decimal mismatch per ~10⁵ roundings, measured at sf0.1). */
  val qEmbedCentroids = GraftQuery(
    "q_embed_centroids",
    (s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .select($"label", posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
        .withColumn("q", floor($"x" * 1000000.0 + 0.5))
        .groupBy($"label", ($"pos" + 1).as("pos"))
        .agg(count(lit(1)).as("n_vecs"),
          (floor(sum($"q").cast(DoubleType) / count(lit(1)) + 0.5) / 1000000.0)
            .as("centroid"))
        .orderBy($"label", $"pos")
    },
    Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT label, t.i + 1 AS pos,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM e, UNNEST(range(len(v))) AS t(i))
      SELECT label, pos, COUNT(*) AS n_vecs,
        FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS centroid
      FROM x GROUP BY label, pos ORDER BY label, pos""")
  )

  /** Embedding COVARIANCE (upper triangle, flat (i, j, cov) rows) — the
    * whitening / PCA-prep statistic: off-diagonal mass says whether the
    * encoder's dimensions are correlated (and a near-zero diagonal says a
    * dimension is dead). Runs as ONE fused TypedImperativeAggregate
    * ([[graft.expressions.GramMatrix]]): per row a tight d²/2
    * multiply-add loop updates fixed-point BIGINT sums — no per-pair row
    * generation, d(d+3)/2 longs of state (~17 KB at d=64) merging across
    * partitions, and the centering means accumulate in the same state.
    * One corpus pass, one tiny state-merge exchange, zero joins; CPU is
    * the inherent O(N·d²) of a covariance matrix and nothing else grows
    * with N. The declarative explode+aggregate formulation lives on in
    * GramMatrixSpec, which pins the kernel cell-for-cell bit-identical
    * to it (the kernel is a physical swap, never a numeric one).
    *
    * Parity is fixed-point end to end (same argument as
    * q_embed_centroids): per-pair products quantize to integer
    * micro-units via floor(x·y·10⁶ + 0.5), sums are exact BIGINT, and
    * the centering term multiplies two identically-quantized doubles —
    * every op is order-independent or identically-ordered IEEE, so
    * DuckDB reproduces the bits. */
  val qEmbedCovariance = GraftQuery(
    "q_embed_covariance",
    (s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .select($"embedding".cast("array<double>").as("v"))
        .agg(graft.expressions.GramMatrix.gram($"v").as("g"))
        .select(inline($"g"))
        .orderBy($"i", $"j")
    },
    Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT t.i + 1 AS i, t.i + 1 + u.dj AS j,
          CAST(FLOOR(v[t.i + 1] * v[t.i + 1 + u.dj] * 1000000.0 + 0.5) AS BIGINT) AS qxy,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS qx,
          CAST(FLOOR(v[t.i + 1 + u.dj] * 1000000.0 + 0.5) AS BIGINT) AS qy
        FROM e, UNNEST(range(len(v))) AS t(i), UNNEST(range(len(v) - t.i)) AS u(dj)),
      g AS (SELECT i, j, COUNT(*) AS n_vecs,
          FLOOR(CAST(SUM(qxy) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS m2,
          FLOOR(CAST(SUM(qx) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_i,
          FLOOR(CAST(SUM(qy) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_j
        FROM x GROUP BY i, j)
      SELECT i, j, n_vecs, m2,
        FLOOR((m2 - mean_i * mean_j) * 1000000.0 + 0.5) / 1000000.0 AS cov
      FROM g ORDER BY i, j""")
  )

  /** Covariance SPECTRUM of the embedding space (top-8 PCA
    * eigenvalues): effective dimensionality / anisotropy diagnostics
    * before clustering or ANN-indexing. One fused Gram pass over the
    * corpus; everything after runs on the d×d driver matrix.
    *
    * FULLY ORACLED since round 8: the spectrum comes from
    * [[graft.operators.Pca.deflatedSpectrum]] — per rank, 12 max-norm
    * power-iteration rounds, the Rayleigh quotient, a max-norm residual
    * certificate, then Hotelling deflation A − λ·(v vᵀ)/(vᵀv) — all in
    * pinned-order sequential double arithmetic, so the DuckDB oracle
    * replays every matvec, normalization, Rayleigh quotient, residual
    * AND deflation of all 8 ranks bit for bit (the induction base is
    * the fixed-point GramMatrix covariance whose cross-engine exactness
    * q_embed_covariance gates; q_embed_top_eigen is the 1-rank special
    * case of the same replay). `resid_rel` per rank quantifies how
    * converged each estimate is; the exact Jacobi spectrum remains
    * available via Pca.covarianceSpectrum and is cross-checked against
    * this within the residual tolerance in PcaSpec. */
  val qEmbedPca = GraftQuery(
    "q_embed_pca",
    (s, dir) => graft.operators.Pca.deflatedSpectrum(
      Tables.embeddings(s, dir).select(col("embedding")), "embedding",
      topK = 8, rounds = 12),
    Some(deflatedSpectrumSql(topK = 8, rounds = 12))
  )

  /** DuckDB replay of [[graft.operators.Pca.deflatedSpectrum]]: the
    * covariance prefix is shared verbatim with q_embed_top_eigen; each
    * rank r appends `rounds` matvec/normalize CTE triples over the
    * (r−1)-times-deflated row matrix, the Rayleigh/residual pair, and
    * (below topK) the deflated matrix for the next rank. Every float
    * expression mirrors the Scala loop's order exactly — see the
    * operator's docstring for the parity argument. */
  private def deflatedSpectrumSql(topK: Int, rounds: Int, d: Int = 64): String = {
    def matvec(out: String, rowm: String, vPrev: String) =
      s"""$out AS MATERIALIZED (SELECT rm.i, list_reduce(list_prepend(0.0,
          list_transform(range($d), k -> rm.row[k+1] * vv.v[k+1])), (a, b) -> a + b) AS raw
        FROM $rowm rm, $vPrev vv)"""
    val ranks = (1 to topK).map { r =>
      val rowm = if (r == 1) "rowm" else s"defl${r - 1}"
      val roundCtes = (1 to rounds).map { t =>
        s"""${matvec(s"p${r}r$t", rowm, s"p${r}v${t - 1}")},
        p${r}m$t AS MATERIALIZED (SELECT MAX(ABS(raw)) AS mx FROM p${r}r$t),
        p${r}v$t AS MATERIALIZED (SELECT list(raw / mx ORDER BY i) AS v FROM p${r}r$t, p${r}m$t)"""
      }.mkString(",\n")
      val fin = s"""${matvec(s"p${r}f", rowm, s"p${r}v$rounds")},
      p${r}fl AS MATERIALIZED (SELECT list(raw ORDER BY i) AS r2 FROM p${r}f),
      p${r}nd AS MATERIALIZED (SELECT
          list_reduce(list_prepend(0.0, list_transform(range($d),
            k -> vv.v[k+1] * rr.r2[k+1])), (a, b) -> a + b) AS num,
          list_reduce(list_prepend(0.0, list_transform(range($d),
            k -> vv.v[k+1] * vv.v[k+1])), (a, b) -> a + b) AS den
        FROM p${r}v$rounds vv, p${r}fl rr),
      p${r}ray AS MATERIALIZED (SELECT num / den AS ray, den FROM p${r}nd),
      p${r}res AS MATERIALIZED (SELECT
          list_reduce(list_prepend(0.0, list_transform(range($d),
            k -> ABS(rr.r2[k+1] - ray.ray * vv.v[k+1]))), (a, b) -> GREATEST(a, b))
          / ABS(ray.ray) AS resid
        FROM p${r}v$rounds vv, p${r}fl rr, p${r}ray ray)"""
      val defl =
        if (r < topK)
          s""",
      defl$r AS MATERIALIZED (SELECT rm.i, list_transform(range($d),
            k -> rm.row[k+1] - nd.ray * vv.v[rm.i] * vv.v[k+1] / nd.den) AS row
          FROM $rowm rm, p${r}v$rounds vv, p${r}ray nd)"""
        else ""
      s"""p${r}v0 AS MATERIALIZED (SELECT list_transform(range($d), k -> 1.0) AS v),
      $roundCtes,
      $fin$defl"""
    }.mkString(",\n")
    val sel = (1 to topK).map { r =>
      s"""SELECT $r AS rank,
        FLOOR(ray.ray * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue,
        FLOOR(ray.ray / tr.trace * 1000000.0 + 0.5) / 1000000.0 AS explained_share,
        FLOOR(res.resid * 1000000.0 + 0.5) / 1000000.0 AS resid_rel,
        FLOOR(tr.trace * 1000000.0 + 0.5) / 1000000.0 AS trace
      FROM p${r}ray ray, p${r}res res, tr"""
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT t.i + 1 AS i, t.i + 1 + u.dj AS j,
          CAST(FLOOR(v[t.i + 1] * v[t.i + 1 + u.dj] * 1000000.0 + 0.5) AS BIGINT) AS qxy,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS qx,
          CAST(FLOOR(v[t.i + 1 + u.dj] * 1000000.0 + 0.5) AS BIGINT) AS qy
        FROM e, UNNEST(range(len(v))) AS t(i), UNNEST(range(len(v) - t.i)) AS u(dj)),
      g AS MATERIALIZED (SELECT i, j,
          FLOOR(CAST(SUM(qxy) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS m2,
          FLOOR(CAST(SUM(qx) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_i,
          FLOOR(CAST(SUM(qy) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_j
        FROM x GROUP BY i, j),
      gg AS MATERIALIZED (SELECT i, j,
          FLOOR((m2 - mean_i * mean_j) * 1000000.0 + 0.5) / 1000000.0 AS cov FROM g),
      mm AS MATERIALIZED (SELECT i, j, cov FROM gg
        UNION ALL SELECT j AS i, i AS j, cov FROM gg WHERE i < j),
      rowm AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS row FROM mm GROUP BY i),
      tr AS MATERIALIZED (SELECT list_reduce(list_prepend(0.0, list(cov ORDER BY i)),
          (a, b) -> a + b) AS trace FROM mm WHERE i = j),
      $ranks
      $sel ORDER BY rank"""
  }

  /** TOP covariance eigenvalue by 12 max-norm power-iteration rounds in
    * PURE SEQUENTIAL double arithmetic (rank 1 of
    * [[graft.operators.Pca.deflatedSpectrum]], columns renamed)
    * — the oracle-able companion of q_embed_pca: Jacobi's rotation
    * cascade is not practically SQL-expressible, but a fixed-round
    * power iteration is, so DuckDB replays the covariance build, every
    * iteration's matvec/normalize, the Rayleigh quotient AND the
    * max-norm residual certificate bit for bit. `resid_rel` is the
    * honest convergence statement (the synthetic spectrum is flat, so
    * rounds converge slowly — the certificate quantifies it; the
    * Rayleigh estimate is bounded by λ_max regardless). */
  val qEmbedTopEigen = GraftQuery(
    "q_embed_top_eigen",
    (s, dir) => graft.operators.Pca.deflatedSpectrum(
        Tables.embeddings(s, dir).select(col("embedding")), "embedding",
        topK = 1, rounds = 12)
      .select(col("eigenvalue").as("top_eig"), col("resid_rel"), col("trace"),
        col("explained_share").as("share_top1")),
    Some {
      val rounds = 12
      def matvec(out: String, vPrev: String) =
        s"""$out AS MATERIALIZED (SELECT rm.i, list_reduce(list_prepend(0.0,
            list_transform(range(64), k -> rm.row[k+1] * vv.v[k+1])), (a, b) -> a + b) AS raw
          FROM rowm rm, $vPrev vv)"""
      val roundsSql = (1 to rounds).map { t =>
        s"""${matvec(s"r$t", s"v${t - 1}")},
          m$t AS MATERIALIZED (SELECT MAX(ABS(raw)) AS mx FROM r$t),
          v$t AS MATERIALIZED (SELECT list(raw / mx ORDER BY i) AS v FROM r$t, m$t)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT t.i + 1 AS i, t.i + 1 + u.dj AS j,
          CAST(FLOOR(v[t.i + 1] * v[t.i + 1 + u.dj] * 1000000.0 + 0.5) AS BIGINT) AS qxy,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS qx,
          CAST(FLOOR(v[t.i + 1 + u.dj] * 1000000.0 + 0.5) AS BIGINT) AS qy
        FROM e, UNNEST(range(len(v))) AS t(i), UNNEST(range(len(v) - t.i)) AS u(dj)),
      g AS MATERIALIZED (SELECT i, j,
          FLOOR(CAST(SUM(qxy) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS m2,
          FLOOR(CAST(SUM(qx) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_i,
          FLOOR(CAST(SUM(qy) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_j
        FROM x GROUP BY i, j),
      gg AS MATERIALIZED (SELECT i, j,
          FLOOR((m2 - mean_i * mean_j) * 1000000.0 + 0.5) / 1000000.0 AS cov FROM g),
      mm AS MATERIALIZED (SELECT i, j, cov FROM gg
        UNION ALL SELECT j AS i, i AS j, cov FROM gg WHERE i < j),
      rowm AS MATERIALIZED (SELECT i, list(cov ORDER BY j) AS row FROM mm GROUP BY i),
      tr AS MATERIALIZED (SELECT list_reduce(list_prepend(0.0, list(cov ORDER BY i)),
          (a, b) -> a + b) AS trace FROM mm WHERE i = j),
      v0 AS MATERIALIZED (SELECT list_transform(range(64), k -> 1.0) AS v),
      $roundsSql,
      ${matvec("rf", s"v$rounds")},
      rfl AS MATERIALIZED (SELECT list(raw ORDER BY i) AS r2 FROM rf),
      ray AS MATERIALIZED (SELECT
          list_reduce(list_prepend(0.0, list_transform(range(64),
            k -> vv.v[k+1] * rr.r2[k+1])), (a, b) -> a + b)
          / list_reduce(list_prepend(0.0, list_transform(range(64),
            k -> vv.v[k+1] * vv.v[k+1])), (a, b) -> a + b) AS ray
        FROM v$rounds vv, rfl rr),
      res AS MATERIALIZED (SELECT
          list_reduce(list_prepend(0.0, list_transform(range(64),
            k -> ABS(rr.r2[k+1] - ray.ray * vv.v[k+1]))), (a, b) -> GREATEST(a, b))
          / ray.ray AS resid
        FROM v$rounds vv, rfl rr, ray)
      SELECT FLOOR(ray.ray * 1000000.0 + 0.5) / 1000000.0 AS top_eig,
        FLOOR(res.resid * 1000000.0 + 0.5) / 1000000.0 AS resid_rel,
        FLOOR(tr.trace * 1000000.0 + 0.5) / 1000000.0 AS trace,
        FLOOR(ray.ray / tr.trace * 1000000.0 + 0.5) / 1000000.0 AS share_top1
      FROM ray, res, tr"""
    }
  )

  /** Per-LABEL per-dimension variance (the diagonal of the grouped Gram
    * report): which dimensions are dead or degenerate within a class —
    * the drill-down behind q_embed_covariance when drift is suspected in
    * one label. Exercises [[graft.expressions.GramMatrix]] as a GROUPED
    * aggregate: one ~17 KB state per label, partials merging per group
    * (the ObjectHashAggregate fallback path), labels × d output rows.
    * Identical fixed-point arithmetic → same DuckDB parity story. */
  val qEmbedVarianceByLabel = GraftQuery(
    "q_embed_variance_by_label",
    (s, dir) => {
      import s.implicits._
      Tables.embeddings(s, dir)
        .select($"label", $"embedding".cast("array<double>").as("v"))
        .groupBy($"label")
        .agg(graft.expressions.GramMatrix.gram($"v").as("g"))
        .select($"label", inline($"g"))
        .filter($"i" === $"j")
        .select($"label", $"i".as("pos"), $"n_vecs", $"cov".as("variance"))
        .orderBy($"label", $"pos")
    },
    Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT label, t.i + 1 AS pos,
          CAST(FLOOR(v[t.i + 1] * v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q2,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q1
        FROM e, UNNEST(range(len(v))) AS t(i)),
      g AS (SELECT label, pos, COUNT(*) AS n_vecs,
          FLOOR(CAST(SUM(q2) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS m2,
          FLOOR(CAST(SUM(q1) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean
        FROM x GROUP BY 1, 2)
      SELECT label, pos, n_vecs,
        FLOOR((m2 - mean * mean) * 1000000.0 + 0.5) / 1000000.0 AS variance
      FROM g ORDER BY label, pos""")
  )

  /** Int8 embedding quantization with per-vector affine scaling — the
    * 4x storage/bandwidth lever for embedding tables at 100 TB (the
    * quantized vectors ship to ANN serving; this query reports the
    * reconstruction error that decides whether 8 bits suffice). Map-only,
    * via the fused QuantizeStats kernel — the declarative HOF version
    * re-evaluated min/max/scale per ELEMENT (O(dim²)/row interpreted,
    * 9 s vs 0.3 s at sf0.1).
    *
    * Cross-engine exactness: the quantized code is floor(t + 0.5), never
    * ROUND (whose half-even/half-up behavior differs across engines);
    * min/max/scale and the error fold are IEEE double ops in identical
    * left-to-right order (same parity argument as q_embed_norms). */
  val qEmbedQuantize = GraftQuery(
    "q_embed_quantize",
    (s, dir) => {
      import s.implicits._
      val qs = org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.expressions.QuantizeStats(
          org.apache.spark.sql.graftshim.ColumnShim.expression(
            $"embedding".cast("array<double>"))))
      Tables.embeddings(s, dir)
        .select($"vec_id", qs.as("qs"))
        .select($"vec_id",
          round($"qs.v_min", 6).as("v_min"), round($"qs.v_max", 6).as("v_max"),
          round($"qs.mse", 9).as("mse"))
        .orderBy($"vec_id")
    },
    Some("""WITH v AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      s AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx,
        (list_max(v) - list_min(v)) / 255.0 AS sc FROM v),
      q AS (SELECT vec_id, v, mn, mx, sc,
        list_transform(v, x -> CASE WHEN sc = 0 THEN CAST(0 AS INTEGER)
          ELSE CAST(FLOOR((x - mn) / sc + 0.5) AS INTEGER) END) AS qv
      FROM s),
      e AS (SELECT vec_id, mn, mx,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(range(len(v)), i ->
            (v[i+1] - (mn + qv[i+1] * sc)) * (v[i+1] - (mn + qv[i+1] * sc)))),
          (a, b) -> a + b) / len(v) AS mse
      FROM q)
      SELECT vec_id, ROUND(mn, 6) AS v_min, ROUND(mx, 6) AS v_max,
        ROUND(mse, 9) AS mse
      FROM e ORDER BY vec_id""")
  )

  /** Incremental aggregate maintenance: the 100 TB pattern where history
    * is never recomputed — a MATERIALIZED per-(type, day) aggregate of
    * everything before the pivot is written once (here: to scratch
    * parquet, standing in for the nightly job's output), and each refresh
    * merges it with the aggregate of the small delta. Works because
    * count/decimal-sum are MERGEABLE: re-aggregating partial aggregates
    * equals aggregating raw rows, which is exactly what the oracle (a
    * direct aggregate over all events) checks. The delta scan's pivot
    * filter pushes down; history never rescans raw events. */
  val qIncrementalAgg = GraftQuery(
    "q_incremental_agg",
    (s, dir) => {
      import s.implicits._
      val pivot = lit("2024-01-25").cast("timestamp")
      val mat = Scratch.dir("incr_agg", dir)
      def dayAgg(df: org.apache.spark.sql.DataFrame) = df
        .groupBy($"event_type", date_format(date_trunc("day", $"ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"), sum($"value".cast(DecimalType(18, 6))).as("sv"))
      // the "nightly" half: materialized once, read back columnar
      dayAgg(Tables.events(s, dir).filter($"ts" < pivot))
        .write.mode("overwrite").parquet(mat)
      val history = s.read.parquet(mat)
      val delta = dayAgg(Tables.events(s, dir).filter($"ts" >= pivot))
      history.unionByName(delta)
        .groupBy($"event_type", $"day")
        .agg(sum($"n").as("n"), sum($"sv").cast(DecimalType(18, 6)).as("sv"))
        .select($"event_type", $"day", $"n",
          round($"sv".cast(DoubleType), 6).as("sum_value"))
        .orderBy($"event_type", $"day")
    },
    Some("""SELECT event_type, STRFTIME(DATE_TRUNC('day', ts), '%Y-%m-%d') AS day,
        COUNT(*) AS n,
        ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE), 6) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY 1, 2""")
  )

  /** Incremental dedup of a NEW BATCH against the already-ingested
    * corpus: the production flow at scale — history is never re-deduped;
    * the pipeline maintains a fingerprint INDEX (16 bytes/doc, not the
    * text) and each batch dedups within itself (keep-first) then
    * anti-joins the index. Here the index half materializes to scratch
    * parquet standing in for the maintained table; only fingerprints
    * ever shuffle. */
  val qDeltaDedup = GraftQuery(
    "q_delta_dedup",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val idx = Scratch.dir("fp_index", dir)
      docs.filter($"doc_id" % 5 =!= 0)
        .select(TextAnalysis.fingerprint($"text").as("fp"))
        .distinct()
        .write.mode("overwrite").parquet(idx)
      val corpusIndex = s.read.parquet(idx)
      val delta = docs.filter($"doc_id" % 5 === 0)
        .select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      val w = Window.partitionBy($"fp").orderBy($"doc_id")
      delta
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1).drop("rn")
        .join(corpusIndex, Seq("fp"), "left_anti")
        .select($"doc_id", $"fp")
        .orderBy($"doc_id")
    },
    Some("""WITH f AS (SELECT doc_id,
        md5(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fp
      FROM documents),
      corpus AS (SELECT DISTINCT fp FROM f WHERE doc_id % 5 <> 0),
      delta AS (SELECT doc_id, fp FROM f WHERE doc_id % 5 = 0),
      kept AS (SELECT doc_id, fp FROM (
          SELECT doc_id, fp, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
          FROM delta) WHERE rn = 1)
      SELECT doc_id, fp FROM kept k
      WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fp = k.fp)
      ORDER BY doc_id""")
  )

  /** Incremental NEAR-dup dedup of a new batch against the ingested
    * corpus — the near-dup analogue of [[qDeltaDedup]], and the actual
    * production flow for fuzzy dedup at scale: history is never
    * re-shingled; the pipeline maintains a minhash SIGNATURE index
    * (numHashes longs per doc), the batch computes its own signatures,
    * and banding runs over index + batch signatures together
    * ([[graft.operators.Dedup.minhashPairsFromSignatures]]). A batch doc
    * is dropped when it near-matches ANY history doc (regardless of id
    * order — history is already ingested and immutable) or an EARLIER
    * batch doc (keep-first within the batch). Portable hash family →
    * the whole chain is DuckDB-oracled. */
  val qDeltaNearDup = GraftQuery(
    "q_delta_neardup",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, Dedup}
      val docs = Tables.documents(s, dir)
      val isBatch = (c: org.apache.spark.sql.Column) => c % 5 === 0
      val idx = Scratch.dir("minhash_index", dir)
      Dedup.minhashSignatures(docs.filter(!isBatch($"doc_id")), "doc_id", "text",
          k = 3, numHashes = 32)
        .write.mode("overwrite").parquet(idx)
      val batchSig = Dedup.minhashSignatures(docs.filter(isBatch($"doc_id")),
        "doc_id", "text", k = 3, numHashes = 32)
      val allSig = Caches.register(s.read.parquet(idx).unionByName(batchSig))
      val pairs = Dedup.minhashPairsFromSignatures(allSig, numHashes = 32,
        bands = 8, threshold = 0.5, maxBucket = 100)
      val dups = pairs
        .filter(isBatch($"id_a") || isBatch($"id_b"))
        .select(when(isBatch($"id_a") && !isBatch($"id_b"), $"id_a")
          .otherwise($"id_b").as("doc_id"))
        .distinct()
      docs.filter(isBatch($"doc_id")).select($"doc_id")
        .join(dups, Seq("doc_id"), "left_anti")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      sg AS (SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END AS shingles
      FROM t),
      hs AS (SELECT doc_id,
        list_distinct(list_transform(shingles, s ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(s, '.'), c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007))) AS hv
      FROM sg),
      sig AS (SELECT doc_id,
        list_transform(range(32), j ->
          list_min(list_transform(hv, h -> ((48271 + 2*j) * h + j) % 1000000007))) AS sig
      FROM hs),
      banded AS (SELECT doc_id, band,
        list_reduce(list_prepend(CAST(band AS BIGINT), sig[band*4+1 : band*4+4]),
          (acc, v) -> (acc * 131 + v) % 1000000007) AS bhash
      FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band)),
      kept AS (SELECT band, bhash FROM banded GROUP BY band, bhash HAVING COUNT(*) <= 100),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN kept k ON a.band = k.band AND a.bhash = k.bhash
        JOIN banded b ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id),
      ver AS (SELECT id_a, id_b,
        CAST(list_sum(list_transform(range(32),
          i -> CASE WHEN sa.sig[i+1] = sb.sig[i+1] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
          AS est_jaccard
      FROM cand JOIN sig sa ON cand.id_a = sa.doc_id JOIN sig sb ON cand.id_b = sb.doc_id),
      dups AS (SELECT DISTINCT
          CASE WHEN id_a % 5 = 0 AND id_b % 5 <> 0 THEN id_a ELSE id_b END AS doc_id
        FROM ver
        WHERE est_jaccard >= 0.5 AND (id_a % 5 = 0 OR id_b % 5 = 0))
      SELECT doc_id FROM documents
      WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM dups)
      ORDER BY doc_id""")
  )

  /** Snapshot DIFF audit — the inverse of q_merge_upsert's apply: given
    * two versions of a keyed table, classify every key as added /
    * removed / changed / unchanged and report counts with key ranges.
    * v2 is synthesized deterministically in both engines (every 10th
    * order repriced, every 13th deleted, every 97th key re-inserted
    * beyond the base domain). One full-outer join on the key (with both
    * versions bucketed by key it degrades to a co-located zip);
    * change detection is null-safe so a null-vs-value flip counts as
    * changed, not unchanged. Counts roll up to ≤4 rows. */
  val qSnapshotDiff = GraftQuery(
    "q_snapshot_diff",
    (s, dir) => {
      import s.implicits._
      val v1 = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val v2 = v1.filter($"o_orderkey" % 13 =!= 0)
        .select($"o_orderkey".as("k2"),
          when($"o_orderkey" % 10 === 0, lit("X")).otherwise($"o_orderstatus")
            .as("s2"),
          when($"o_orderkey" % 10 === 0,
            round($"o_totalprice".cast(DecimalType(18, 2)) * lit(1.1).cast(DecimalType(3, 1)), 2)
              .cast(DoubleType))
            .otherwise($"o_totalprice").as("p2"))
        .unionAll(v1.filter($"o_orderkey" % 97 === 0)
          .select(($"o_orderkey" + 10000000L).as("k2"), lit("N").as("s2"),
            lit(100.0).as("p2")))
      v1.join(v2, $"o_orderkey" === $"k2", "full_outer")
        .select(when($"o_orderkey".isNull, "added")
          .when($"k2".isNull, "removed")
          .when(!($"o_orderstatus" <=> $"s2") || !($"o_totalprice" <=> $"p2"),
            "changed")
          .otherwise("unchanged").as("change_type"),
          coalesce($"o_orderkey", $"k2").as("key"))
        .groupBy($"change_type")
        .agg(count(lit(1)).as("n_rows"),
          min($"key").as("min_key"), max($"key").as("max_key"))
        .orderBy($"change_type")
    },
    Some("""WITH v1 AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      v2 AS (SELECT o_orderkey AS k2,
          CASE WHEN o_orderkey % 10 = 0 THEN 'X' ELSE o_orderstatus END AS s2,
          CASE WHEN o_orderkey % 10 = 0
            THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)), 2) AS DOUBLE)
            ELSE o_totalprice END AS p2
        FROM v1 WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000 AS k2, 'N' AS s2, 100.0 AS p2
        FROM v1 WHERE o_orderkey % 97 = 0),
      d AS (SELECT CASE
          WHEN v1.o_orderkey IS NULL THEN 'added'
          WHEN v2.k2 IS NULL THEN 'removed'
          WHEN v1.o_orderstatus IS DISTINCT FROM v2.s2
            OR v1.o_totalprice IS DISTINCT FROM v2.p2 THEN 'changed'
          ELSE 'unchanged' END AS change_type,
          COALESCE(v1.o_orderkey, v2.k2) AS key
        FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.k2)
      SELECT change_type, COUNT(*) AS n_rows,
        MIN(key) AS min_key, MAX(key) AS max_key
      FROM d GROUP BY change_type ORDER BY change_type""")
  )

  /** Johnson-Lindenstrauss random projection 64 → 16 dims with the
    * PORTABLE quantized-Rademacher scheme: inputs fixed-point at 1e-6
    * ([[graft.operators.Similarity.quantize]]), signs from the same
    * stir-square-stir integer hash as the LSH planes
    * ([[graft.operators.Similarity.rademacherPlanes]]) — so every
    * projected coordinate is an exact integer any engine reproduces.
    * Each row carries a SELF-CERTIFYING `jl_distortion` column:
    * ‖proj‖² / (k·‖qv‖²), whose expectation is 1 under Rademacher
    * projections — a per-row norm-preservation certificate.
    *
    * Scale: map-only (no shuffle at all before the output sort). Runs
    * the FUSED codegen kernel (`graft.expressions.JlProject`: one pass —
    * quantize, all 16 plane dots, both norms); the declarative HOF fold
    * re-walks the vector once per plane in interpreted aggregates and is
    * kept in `PropertiesSpec` as the cross-check of the kernel. */
  val qJlProject = GraftQuery(
    "q_jl_project",
    (s, dir) => {
      import s.implicits._
      val jl = org.apache.spark.sql.graftshim.ColumnShim.column(
        graft.expressions.JlProject(
          org.apache.spark.sql.graftshim.ColumnShim.expression(
            $"embedding".cast("array<double>")), 16, 64))
      Tables.embeddings(s, dir)
        .select($"vec_id", jl.as("jl"))
        .select($"vec_id",
          // stringified: the harness compare sorts rows by every column,
          // which needs scalar cells (same convention as q_array_agg)
          array_join($"jl.proj", ",").as("proj"),
          when($"jl.q2" === 0L, lit(0.0)).otherwise(
            round($"jl.p2" / (lit(16.0) * $"jl.q2"), 6)).as("jl_distortion"))
        .orderBy($"vec_id")
    },
    Some("""WITH v AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
      FROM embeddings),
      p AS (SELECT vec_id, qv,
        list_transform(range(16), j ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(64), d ->
              (CASE WHEN (48271 * (((j * 64 + d + 1) * 2654435761 % 2147483647) *
                      ((j * 64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647
                    < 1073741824 THEN 1 ELSE -1 END) * qv[d + 1])),
            (a, b) -> a + b)) AS proj
      FROM v),
      n AS (SELECT vec_id, proj,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(qv, x -> x * x)), (a, b) -> a + b) AS q2,
        list_reduce(list_prepend(CAST(0 AS DOUBLE),
          list_transform(proj, x -> CAST(x AS DOUBLE) * x)), (a, b) -> a + b) AS p2
      FROM p)
      SELECT vec_id, array_to_string(proj, ',') AS proj,
        CASE WHEN q2 = 0 THEN 0.0 ELSE ROUND(p2 / (16.0 * q2), 6) END AS jl_distortion
      FROM n ORDER BY vec_id""")
  )

  /** Inter-class centroid cosine matrix: the label-geometry health
    * report on top of [[qEmbedCentroids]] — near-1 off-diagonal entries
    * say two classes are indistinguishable to the encoder (merge or
    * relabel them); the full matrix is |labels|²/2 rows, domain-sized at
    * any corpus scale. Parity is fixed-point end to end: centroids
    * quantize to BIGINT micro-units exactly as q_embed_centroids, dot
    * products and norms are exact integer sums, and the final cosine is
    * one identically-ordered IEEE division per pair. The pairwise join
    * runs on the (label, pos) centroid relation — labels × dims rows,
    * never the corpus. */
  val qCentroidSim = GraftQuery(
    "q_centroid_sim",
    (s, dir) => {
      import s.implicits._
      val cent = graft.operators.Caches.register(
        Tables.embeddings(s, dir)
          .select($"label", posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
          .withColumn("q", floor($"x" * 1000000.0 + 0.5))
          .groupBy($"label", $"pos")
          .agg(floor(sum($"q").cast(DoubleType) / count(lit(1)) + 0.5)
            .cast("long").as("cq")))
      val norms = cent.groupBy($"label").agg(sum($"cq" * $"cq").as("n2"))
      cent.as("a").join(cent.as("b"),
          col("a.pos") === col("b.pos") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(col("a.cq") * col("b.cq")).as("dot"))
        .join(broadcast(norms.select($"label".as("label_a"), $"n2".as("n2_a"))), "label_a")
        .join(broadcast(norms.select($"label".as("label_b"), $"n2".as("n2_b"))), "label_b")
        .select($"label_a", $"label_b",
          round($"dot".cast(DoubleType) /
            (sqrt($"n2_a".cast(DoubleType)) * sqrt($"n2_b".cast(DoubleType))), 6)
            .as("cos_sim"))
        .orderBy($"label_a", $"label_b")
    },
    Some("""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT label, t.i AS pos,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM e, UNNEST(range(len(v))) AS t(i)),
      cent AS (SELECT label, pos,
          CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS cq
        FROM x GROUP BY label, pos),
      norms AS (SELECT label, CAST(SUM(cq * cq) AS BIGINT) AS n2 FROM cent GROUP BY label),
      dots AS (SELECT a.label AS label_a, b.label AS label_b,
          CAST(SUM(a.cq * b.cq) AS BIGINT) AS dot
        FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label)
      SELECT label_a, label_b,
        ROUND(CAST(dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))), 6) AS cos_sim
      FROM dots
      JOIN norms na ON na.label = dots.label_a
      JOIN norms nb ON nb.label = dots.label_b
      ORDER BY label_a, label_b""")
  )

  /** CDC APPLY: the events stream read as change-data-capture on a
    * per-user profile — signup = INSERT, error = DELETE, anything else
    * = UPDATE — folded in (ts, event_id) order to the final table
    * state. Last-writer-wins per key: a user whose LAST op is a delete
    * is absent; delete-then-reinsert sequences survive with the later
    * value (the tombstone resolution a naive "ignore deletes" upsert
    * gets wrong). One user-keyed window; no self-joins; version = ops
    * applied, so the output doubles as an apply audit. */
  val qCdcApply = GraftQuery(
    "q_cdc_apply",
    (s, dir) => {
      import s.implicits._
      val op = when($"event_type" === "signup", lit("I"))
        .when($"event_type" === "error", lit("D"))
        .otherwise(lit("U"))
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"value", op.as("op"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_ops", count(lit(1)).over(Window.partitionBy($"user_id")))
        .filter($"rn" === 1 && $"op" =!= "D")
        .select($"user_id", $"op".as("last_op"), $"ts".as("last_ts"),
          round($"value", 6).as("last_value"), $"n_ops")
        .orderBy($"user_id")
    },
    Some("""WITH c AS (SELECT user_id, ts, event_id, value,
          CASE WHEN event_type = 'signup' THEN 'I'
            WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
          COUNT(*) OVER (PARTITION BY user_id) AS n_ops
        FROM events)
      SELECT user_id, op AS last_op, ts AS last_ts,
        ROUND(value, 6) AS last_value, CAST(n_ops AS BIGINT) AS n_ops
      FROM c WHERE rn = 1 AND op <> 'D' ORDER BY user_id""")
  )

  /** RFM segmentation rollup: per customer, Recency (days from the
    * corpus max order date to their last order), Frequency (#orders) and
    * Monetary (decimal-exact spend) quintile-scored 1–5, rolled up to
    * the ≤125 (r, f, m) segment cells with size and average spend.
    *
    * The quintile scoring deliberately avoids `ntile()` — a global
    * single-partition window sort of the customer relation. Boundaries
    * come from ONE fused exact-quantile aggregate per metric (1-row,
    * broadcast back); a score is 1 + how many boundaries the value
    * strictly clears — identical comparison trees in both engines, and
    * ties get a deterministic score by construction. */
  val qRfm = GraftQuery(
    "q_rfm",
    (s, dir) => {
      import s.implicits._
      val perCust = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(max($"o_orderdate").as("last_order"),
          count(lit(1)).as("f"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).as("m_dec"))
      val anchored = perCust
        .crossJoin(broadcast(perCust.agg(max($"last_order").as("anchor"))))
        .select($"o_custkey",
          datediff($"anchor", $"last_order").cast("long").as("r"),
          $"f", $"m_dec".cast(DoubleType).as("m"), $"m_dec")
      val a = graft.operators.Caches.register(anchored)
      val qs = Seq(0.2, 0.4, 0.6, 0.8)
      val bounds = a.agg(
        graft.expressions.ExactQuantiles.quantiles($"r".cast(DoubleType), qs).as("qr"),
        graft.expressions.ExactQuantiles.quantiles($"f".cast(DoubleType), qs).as("qf"),
        graft.expressions.ExactQuantiles.quantiles($"m", qs).as("qm"))
      def clears(v: org.apache.spark.sql.Column, arr: String, i: Int) =
        when(v > element_at(col(arr), i), 1).otherwise(0)
      val scored = a.crossJoin(broadcast(bounds))
        .select($"o_custkey", $"m_dec",
          // recent = LOW r: 5 minus boundaries cleared
          (lit(5) - (1 to 4).map(i => clears($"r".cast(DoubleType), "qr", i))
            .reduce(_ + _)).as("r_score"),
          (lit(1) + (1 to 4).map(i => clears($"f".cast(DoubleType), "qf", i))
            .reduce(_ + _)).as("f_score"),
          (lit(1) + (1 to 4).map(i => clears($"m", "qm", i))
            .reduce(_ + _)).as("m_score"))
      // average spend by exact integer cents with FLOOR division — a
      // ROUND of sum/count lands on half-cent boundaries (…/2 = x.885)
      // where Spark (HALF_UP) and DuckDB (half-even) disagree
      scored.groupBy($"r_score", $"f_score", $"m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum($"m_dec").as("spend"))
        .select($"r_score", $"f_score", $"m_score", $"n_customers",
          (expr("CAST(CAST(spend * 100 AS DECIMAL(38,0)) DIV n_customers AS BIGINT)")
            / lit(100.0)).as("avg_spend"))
        .orderBy($"r_score", $"f_score", $"m_score")
    },
    Some("""WITH pc AS (SELECT o_custkey, MAX(o_orderdate) AS last_order,
          COUNT(*) AS f, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS m_dec
        FROM orders GROUP BY o_custkey),
      anch AS (SELECT MAX(last_order) AS anchor FROM pc),
      a AS (SELECT o_custkey,
          CAST(DATEDIFF('day', CAST(last_order AS DATE), CAST(anchor AS DATE)) AS BIGINT) AS r,
          f, CAST(m_dec AS DOUBLE) AS m, m_dec
        FROM pc, anch),
      b AS (SELECT
          [QUANTILE_CONT(CAST(r AS DOUBLE), 0.2), QUANTILE_CONT(CAST(r AS DOUBLE), 0.4),
           QUANTILE_CONT(CAST(r AS DOUBLE), 0.6), QUANTILE_CONT(CAST(r AS DOUBLE), 0.8)] AS qr,
          [QUANTILE_CONT(CAST(f AS DOUBLE), 0.2), QUANTILE_CONT(CAST(f AS DOUBLE), 0.4),
           QUANTILE_CONT(CAST(f AS DOUBLE), 0.6), QUANTILE_CONT(CAST(f AS DOUBLE), 0.8)] AS qf,
          [QUANTILE_CONT(m, 0.2), QUANTILE_CONT(m, 0.4),
           QUANTILE_CONT(m, 0.6), QUANTILE_CONT(m, 0.8)] AS qm
        FROM a),
      scored AS (SELECT o_custkey, m_dec,
          5 - (CASE WHEN CAST(r AS DOUBLE) > qr[1] THEN 1 ELSE 0 END
             + CASE WHEN CAST(r AS DOUBLE) > qr[2] THEN 1 ELSE 0 END
             + CASE WHEN CAST(r AS DOUBLE) > qr[3] THEN 1 ELSE 0 END
             + CASE WHEN CAST(r AS DOUBLE) > qr[4] THEN 1 ELSE 0 END) AS r_score,
          1 + (CASE WHEN CAST(f AS DOUBLE) > qf[1] THEN 1 ELSE 0 END
             + CASE WHEN CAST(f AS DOUBLE) > qf[2] THEN 1 ELSE 0 END
             + CASE WHEN CAST(f AS DOUBLE) > qf[3] THEN 1 ELSE 0 END
             + CASE WHEN CAST(f AS DOUBLE) > qf[4] THEN 1 ELSE 0 END) AS f_score,
          1 + (CASE WHEN m > qm[1] THEN 1 ELSE 0 END
             + CASE WHEN m > qm[2] THEN 1 ELSE 0 END
             + CASE WHEN m > qm[3] THEN 1 ELSE 0 END
             + CASE WHEN m > qm[4] THEN 1 ELSE 0 END) AS m_score
        FROM a, b)
      SELECT r_score, f_score, m_score, COUNT(*) AS n_customers,
        CAST(CAST(SUM(m_dec) * 100 AS HUGEINT) // COUNT(*) AS BIGINT) / 100.0 AS avg_spend
      FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")
  )

  /** Embedding DRIFT between two deterministic cohorts (vec_id parity —
    * the stand-in for "last week's encoder vs this week's"): per label,
    * the L2 shift and cosine of the two cohort centroids. Catching a
    * drifted encoder BEFORE re-indexing 100 TB of vectors is the
    * operational point; a centroid moving while its cosine stays ~1 is
    * benign rescaling, a falling cosine is a direction change that
    * invalidates ANN indexes. Parity is fixed-point end to end:
    * centroids stay in INTEGER micro-units, the diff/dot/norm moments
    * are exact integer sums (Decimal-widened), and the only doubles are
    * the final correctly-rounded sqrt/divides — identical trees in both
    * engines. One corpus pass, rollups on (label, pos) rows. */
  val qEmbedDrift = GraftQuery(
    "q_embed_drift",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val cent = Tables.embeddings(s, dir)
        .select($"label", ($"vec_id" % 2).as("coh"),
          posexplode($"embedding".cast("array<double>")).as(Seq("pos", "x")))
        .withColumn("q", floor($"x" * 1000000.0 + 0.5).cast(LongType))
        .groupBy($"label", $"coh", $"pos")
        .agg(count(lit(1)).as("n"),
          floor(sum($"q").cast(DoubleType) / count(lit(1)) + 0.5)
            .cast(LongType).as("cq"))
      val a = cent.filter($"coh" === 0)
        .select($"label", $"pos", $"cq".as("qa"), $"n".as("na"))
      val b = cent.filter($"coh" === 1)
        .select($"label", $"pos", $"cq".as("qb"), $"n".as("nb"))
      a.join(b, Seq("label", "pos"))
        .groupBy($"label")
        .agg(max($"na").as("n_a"), max($"nb").as("n_b"),
          sum((($"qa" - $"qb") * ($"qa" - $"qb")).cast(DecimalType(38, 0)))
            .as("ssq"),
          sum(($"qa" * $"qb").cast(DecimalType(38, 0))).as("dot"),
          sum(($"qa" * $"qa").cast(DecimalType(38, 0))).as("sa2"),
          sum(($"qb" * $"qb").cast(DecimalType(38, 0))).as("sb2"))
        .select($"label", $"n_a", $"n_b",
          round(sqrt($"ssq".cast(DoubleType)) / 1000000.0, 6).as("l2_shift"),
          round($"dot".cast(DoubleType) /
            (sqrt($"sa2".cast(DoubleType)) * sqrt($"sb2".cast(DoubleType))), 6)
            .as("cos_sim"))
        .orderBy($"label")
    },
    Some("""WITH e AS (SELECT label, vec_id % 2 AS coh,
          CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT label, coh, t.i + 1 AS pos,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM e, UNNEST(range(len(v))) AS t(i)),
      cent AS (SELECT label, coh, pos, COUNT(*) AS n,
          CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS cq
        FROM x GROUP BY 1, 2, 3),
      j AS (SELECT a.label, a.n AS na, b.n AS nb,
          a.cq AS qa, b.cq AS qb
        FROM cent a JOIN cent b ON a.label = b.label AND a.pos = b.pos
        WHERE a.coh = 0 AND b.coh = 1),
      g AS (SELECT label, MAX(na) AS n_a, MAX(nb) AS n_b,
          CAST(SUM((qa - qb) * (qa - qb)) AS DECIMAL(38,0)) AS ssq,
          CAST(SUM(qa * qb) AS DECIMAL(38,0)) AS dot,
          CAST(SUM(qa * qa) AS DECIMAL(38,0)) AS sa2,
          CAST(SUM(qb * qb) AS DECIMAL(38,0)) AS sb2
        FROM j GROUP BY 1)
      SELECT label, n_a, n_b,
        ROUND(SQRT(CAST(ssq AS DOUBLE)) / 1000000.0, 6) AS l2_shift,
        ROUND(CAST(dot AS DOUBLE) /
          (SQRT(CAST(sa2 AS DOUBLE)) * SQRT(CAST(sb2 AS DOUBLE))), 6) AS cos_sim
      FROM g ORDER BY label""")
  )

  /** Right-to-be-forgotten (GDPR erasure) cascade audit: given a
    * deterministic forget set (subject key ≡ 0 mod 97 — standing in for
    * the day's deletion-request list), report per table how many rows
    * the cascade removes — customers directly, their orders through the
    * FK, those orders' lineitems transitively, and the subjects' event
    * rows — with the share of each table affected. This is the
    * dry-run report a deletion job emits before the destructive pass.
    *
    * Scale: the forget-key set is REQUEST-sized, so every membership
    * test is a broadcast probe — no fact table shuffles at all;
    * lineitem resolves through the forgotten-ORDER key set (|orders|/97,
    * still broadcastable; at a scale where it isn't, the probe becomes
    * a semi-join sharing lineitem's orderkey bucketing). Each per-table
    * audit is one map-side counting pass; the union is 4 one-row
    * aggregates. */
  val qForgetUsers = GraftQuery(
    "q_forget_users",
    (s, dir) => {
      import s.implicits._
      val fo = Tables.orders(s, dir).filter($"o_custkey" % 97 === 0)
        .select($"o_orderkey".as("fo_key"), lit(1L).as("fo"))
      def audit(name: String, df: org.apache.spark.sql.DataFrame,
          forgotten: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_rows"),
            sum(when(forgotten, 1L).otherwise(0L)).as("n_forgotten"))
          .select(lit(name).as("table_name"), $"n_rows", $"n_forgotten")
      val li = Tables.lineitem(s, dir)
      val liMarked = li.join(broadcast(fo), li("l_orderkey") === $"fo_key", "left")
      audit("customer", Tables.customer(s, dir), $"c_custkey" % 97 === 0)
        .unionAll(audit("orders", Tables.orders(s, dir), $"o_custkey" % 97 === 0))
        .unionAll(audit("lineitem", liMarked, $"fo".isNotNull))
        .unionAll(audit("events", Tables.events(s, dir), $"user_id" % 97 === 0))
        .withColumn("pct_forgotten",
          round($"n_forgotten" * 100.0 / $"n_rows", 6))
        .orderBy($"table_name")
    },
    Some("""WITH fo AS (SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0),
      a AS (
        SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
          CAST(SUM(CASE WHEN c_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_forgotten
        FROM customer
        UNION ALL
        SELECT 'orders', COUNT(*),
          CAST(SUM(CASE WHEN o_custkey % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem', COUNT(*),
          CAST(SUM(CASE WHEN fo.o_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem l LEFT JOIN fo ON l.l_orderkey = fo.o_orderkey
        UNION ALL
        SELECT 'events', COUNT(*),
          CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM events)
      SELECT table_name, n_rows, n_forgotten,
        ROUND(n_forgotten * 100.0 / n_rows, 6) AS pct_forgotten
      FROM a ORDER BY table_name""")
  )

  /** Embedding OUTLIER shortlist by diagonal Mahalanobis distance —
    * the standard "weird vectors first" triage before near-dup mining
    * or index build: dist²(x) = Σ_d (x_d − μ_d)²/σ²_d with per-dim
    * variance standardization (the axis-aligned Mahalanobis that needs
    * no covariance inverse; q_embed_covariance covers the off-diagonal
    * mass). Top-50 by distance.
    *
    * Cross-engine FP: coordinates quantize to the integer micro grid
    * (floor(x·10⁶+0.5)), per-dim stats are exact integer sums, and each
    * per-dim term collapses algebraically to (q·n−S)²/(n·SS−S²) — a
    * ratio of EXACT integers evaluated as one fixed double tree, cast
    * to DECIMAL(18,12) before the per-vector sum (order-free). The
    * top-k ORDER BY runs on the exact decimal sum (never the rounded
    * display value), tie-broken by vec_id. Zero-variance dims
    * contribute exactly 0 in both engines.
    *
    * Scale: one posexplode pass (dims× map-side fan-out, no shuffle
    * amplification — the rollup keys are (pos) then (vec_id)), per-dim
    * stats broadcast back; the top-k is Spark's TakeOrdered, never a
    * full sort. */
  val qMahalanobisOutliers = GraftQuery(
    "q_mahalanobis_outliers",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val x = Tables.embeddings(s, dir)
        .select($"vec_id", $"label",
          posexplode($"embedding".cast("array<double>")).as(Seq("pos", "v")))
        .withColumn("q", floor($"v" * 1000000.0 + 0.5).cast(LongType))
      val st = x.groupBy($"pos")
        .agg(count(lit(1)).as("n"),
          sum($"q").cast(LongType).as("sq"),
          sum(($"q" * $"q").cast(DecimalType(38, 0))).as("ss"))
      val den = ($"n".cast(DecimalType(38, 0)) * $"ss" -
        $"sq".cast(DecimalType(38, 0)) * $"sq".cast(DecimalType(38, 0)))
      val num = ($"q" * $"n" - $"sq").cast(DoubleType)
      x.join(broadcast(st), "pos")
        .select($"vec_id", $"label",
          when(den > 0,
            (num * num / den.cast(DoubleType)).cast(DecimalType(18, 12)))
            .otherwise(lit(BigDecimal(0)).cast(DecimalType(18, 12))).as("term"))
        .groupBy($"vec_id")
        .agg(max($"label").as("label"), sum($"term").as("sdec"))
        .orderBy($"sdec".desc, $"vec_id")
        .limit(50)
        .select($"vec_id", $"label",
          round($"sdec".cast(DoubleType), 6).as("mahal2"))
    },
    Some("""WITH e AS (SELECT vec_id, label,
        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      x AS (SELECT vec_id, label, t.i + 1 AS pos,
          CAST(FLOOR(v[t.i + 1] * 1000000.0 + 0.5) AS BIGINT) AS q
        FROM e, UNNEST(range(len(v))) AS t(i)),
      st AS (SELECT pos, COUNT(*) AS n, CAST(SUM(q) AS BIGINT) AS sq,
          CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS ss
        FROM x GROUP BY 1),
      tm AS (SELECT vec_id, label,
          CASE WHEN CAST(n AS HUGEINT) * ss - CAST(sq AS HUGEINT) * sq > 0
            THEN CAST(
              CAST(q * n - sq AS DOUBLE) * CAST(q * n - sq AS DOUBLE) /
              CAST(CAST(n AS HUGEINT) * ss - CAST(sq AS HUGEINT) * sq AS DOUBLE)
              AS DECIMAL(18,12))
            ELSE CAST(0 AS DECIMAL(18,12)) END AS term
        FROM x JOIN st USING (pos)),
      g AS (SELECT vec_id, MAX(label) AS label, SUM(term) AS sdec
        FROM tm GROUP BY 1)
      SELECT vec_id, label, ROUND(CAST(sdec AS DOUBLE), 6) AS mahal2
      FROM g ORDER BY sdec DESC, vec_id LIMIT 50""")
  )

  val all: Seq[GraftQuery] =
    Seq(qScd2History, qDupInflation, qDupClusterSizes, qEmbedNorms,
      qEmbedCentroids, qEmbedCovariance, qEmbedVarianceByLabel, qEmbedPca,
      qEmbedTopEigen, qEmbedQuantize, qIncrementalAgg, qDeltaDedup, qDeltaNearDup,
      qSnapshotDiff, qJlProject, qCentroidSim, qCdcApply, qRfm, qEmbedDrift,
      qForgetUsers, qMahalanobisOutliers)
}
