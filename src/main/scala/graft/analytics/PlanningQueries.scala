package graft.analytics

import graft.{GraftQuery, Tables}
import graft.expressions.KmvSketch
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** Planning utilities surfaced AS queries: the sketch math behind
  * "should this join run" ([[graft.operators.JoinSizeEstimator]]) made
  * visible, certified, and DuckDB-replayable.
  *
  * At 100 TB the join-size estimator is what stands between a routine
  * job and a cluster-filling many-to-many explosion; exposing it as a
  * query (estimate AND exact truth in one row) keeps the estimator
  * itself under the same correctness gate as every operator it guards.
  *
  * Scale shape: per side one bounded-state KMV aggregate (k longs of
  * state, partial-merged map-side — the cost of a column scan), then
  * pure 1-row array arithmetic. The EXACT side is two grouped counts
  * joined on the key — rows bounded by distinct keys, not input rows.
  * The estimate never touches the exact path; the exact path exists so
  * the harness (and a reader) can see the estimator's error, not to
  * make the estimate work.
  */
object PlanningQueries {

  private val P = 1000000007L // TextHashKernels.PortableMod
  private val K = 256

  /** One side: row count + the portable KMV k-min set, unflipped from
    * the aggregate's unsigned-order encoding back to plain [0, P). */
  private def sketchSide(df: DataFrame, key: String, suffix: String): DataFrame =
    df.agg(
        count(col(key)).cast(LongType).as(s"n_$suffix"),
        KmvSketch.kmvSet(col(key), K, portable = true).as("sraw"))
      .select(col(s"n_$suffix"),
        transform(col("sraw"), x => x.bitwiseXOR(lit(Long.MinValue))).as(s"s_$suffix"))

  /** KMV distinct estimate from a plain-domain sorted k-min set: exact
    * below capacity, else (k−1)/frac(k-th min). Double math ordered
    * exactly as the oracle writes it: ratio = kth/P, then (k−1)/ratio,
    * then floor(x + 0.5). */
  private def estDistinct(s: Column): Column =
    when(size(s) < K, size(s).cast(LongType))
      .otherwise(greatest(lit(1L),
        floor(lit((K - 1).toDouble) /
          (element_at(s, K).cast(DoubleType) / lit(P.toDouble)) + lit(0.5))))

  /** Estimate |A ⋈ B| from two side sketches (Beyer et al. KMV
    * combination) and carry the exact answer beside it. One output row. */
  private def pairEstimate(
      label: String,
      dfA: DataFrame, keyA: String,
      dfB: DataFrame, keyB: String): DataFrame = {
    val ca = dfA.groupBy(col(keyA).as("k")).agg(count(lit(1)).as("na"))
    val cb = dfB.groupBy(col(keyB).as("k")).agg(count(lit(1)).as("nb"))
    val exact = ca.join(cb, "k")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).cast(LongType).as("exact_rows"))

    sketchSide(dfA, keyA, "a")
      .crossJoin(sketchSide(dfB, keyB, "b"))
      .crossJoin(exact)
      .withColumn("union_k",
        slice(array_sort(array_union(col("s_a"), col("s_b"))), 1, K))
      .withColumn("nu", greatest(size(col("union_k")), lit(1)))
      .withColumn("in_both", size(filter(col("union_k"),
        x => array_contains(col("s_a"), x) && array_contains(col("s_b"), x))))
      .withColumn("union_est", estDistinct(col("union_k")))
      .withColumn("inter_est",
        floor(col("union_est") * (col("in_both").cast(DoubleType) / col("nu")) + lit(0.5))
          .cast(LongType))
      .withColumn("dist_a_est", estDistinct(col("s_a")).cast(LongType))
      .withColumn("dist_b_est", estDistinct(col("s_b")).cast(LongType))
      .withColumn("mult_a",
        col("n_a").cast(DoubleType) / greatest(col("dist_a_est"), lit(1L)))
      .withColumn("mult_b",
        col("n_b").cast(DoubleType) / greatest(col("dist_b_est"), lit(1L)))
      .withColumn("est_rows",
        floor(col("inter_est").cast(DoubleType) * col("mult_a") * col("mult_b") + lit(0.5))
          .cast(LongType))
      .withColumn("rel_err_ppm",
        floor(abs(col("est_rows") - col("exact_rows")).cast(DoubleType) * 1000000.0 /
          greatest(col("exact_rows"), lit(1L)) + lit(0.5)).cast(LongType))
      .select(lit(label).as("pair"), col("n_a"), col("n_b"),
        col("dist_a_est"), col("dist_b_est"), col("inter_est"),
        col("est_rows"), col("exact_rows"), col("rel_err_ppm"))
  }

  /** The DuckDB replay of one pair: distinct portable hashes, the 256
    * smallest as the k-min set, then the identical list arithmetic. */
  private def pairSql(
      label: String, tblA: String, keyA: String, whereA: String,
      tblB: String, keyB: String, whereB: String, tag: String): String = {
    def hv(key: String) =
      s"(48271 * ((48271 * (($key % 1000000007 + 1) % 1000000007)) % 1000000007)) % 1000000007"
    s"""ha$tag AS (SELECT DISTINCT ${hv(keyA)} AS hv FROM $tblA $whereA),
      sa$tag AS (SELECT list(hv ORDER BY hv) AS s FROM
        (SELECT hv FROM ha$tag ORDER BY hv LIMIT $K)),
      na$tag AS (SELECT COUNT($keyA) AS n FROM $tblA $whereA),
      hb$tag AS (SELECT DISTINCT ${hv(keyB)} AS hv FROM $tblB $whereB),
      sb$tag AS (SELECT list(hv ORDER BY hv) AS s FROM
        (SELECT hv FROM hb$tag ORDER BY hv LIMIT $K)),
      nb$tag AS (SELECT COUNT($keyB) AS n FROM $tblB $whereB),
      ex$tag AS (SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS exact_rows FROM
        (SELECT $keyA AS k, COUNT(*) AS na FROM $tblA $whereA GROUP BY 1) ga
        JOIN (SELECT $keyB AS k, COUNT(*) AS nb FROM $tblB $whereB GROUP BY 1) gb USING (k)),
      u$tag AS (SELECT list_sort(list_distinct(a.s || b.s))[1:$K] AS uk, a.s AS sa, b.s AS sb
        FROM sa$tag a, sb$tag b),
      c$tag AS (SELECT uk, sa, sb, GREATEST(len(uk), 1) AS nu,
          len(list_filter(uk, x -> list_contains(sa, x) AND list_contains(sb, x))) AS in_both,
          CASE WHEN len(uk) < $K THEN CAST(len(uk) AS BIGINT)
               ELSE GREATEST(1, CAST(FLOOR(${K - 1}.0 / (CAST(uk[$K] AS DOUBLE) / 1000000007.0) + 0.5) AS BIGINT)) END AS union_est,
          CASE WHEN len(sa) < $K THEN CAST(len(sa) AS BIGINT)
               ELSE GREATEST(1, CAST(FLOOR(${K - 1}.0 / (CAST(sa[$K] AS DOUBLE) / 1000000007.0) + 0.5) AS BIGINT)) END AS dist_a_est,
          CASE WHEN len(sb) < $K THEN CAST(len(sb) AS BIGINT)
               ELSE GREATEST(1, CAST(FLOOR(${K - 1}.0 / (CAST(sb[$K] AS DOUBLE) / 1000000007.0) + 0.5) AS BIGINT)) END AS dist_b_est
        FROM u$tag),
      f$tag AS (SELECT '$label' AS pair, na$tag.n AS n_a, nb$tag.n AS n_b,
          dist_a_est, dist_b_est,
          CAST(FLOOR(union_est * (CAST(in_both AS DOUBLE) / nu) + 0.5) AS BIGINT) AS inter_est,
          CAST(FLOOR(CAST(CAST(FLOOR(union_est * (CAST(in_both AS DOUBLE) / nu) + 0.5) AS BIGINT) AS DOUBLE)
            * (CAST(na$tag.n AS DOUBLE) / GREATEST(dist_a_est, 1))
            * (CAST(nb$tag.n AS DOUBLE) / GREATEST(dist_b_est, 1)) + 0.5) AS BIGINT) AS est_rows,
          exact_rows
        FROM c$tag, na$tag, nb$tag, ex$tag)"""
  }

  /** Join-size estimation CERTIFIED: for two join shapes — a saturated
    * sketch (orders ⋈ lineitem on orderkey, 15k distinct keys ≫ k=256,
    * the k-th-minimum estimator path) and an under-capacity sketch
    * (events ⋈ purchase-events on user_id, 150 keys < k, the exact
    * path with real many-to-many multiplicity) — estimate the join
    * output size from two KMV sketches and print the exact size and the
    * relative error beside it. The rel_err_ppm column is the
    * self-certification: the harness hash-gates it, so estimator drift
    * is a correctness failure, not a silent degradation. */
  val qJoinSizeEstimate = GraftQuery(
    "q_join_size_estimate",
    (s, dir) => {
      val ordersLineitem = pairEstimate("orders_lineitem",
        Tables.orders(s, dir), "o_orderkey",
        Tables.lineitem(s, dir), "l_orderkey")
      val eventsPurchases = pairEstimate("events_purchases",
        Tables.events(s, dir), "user_id",
        Tables.events(s, dir).filter(col("event_type") === "purchase"), "user_id")
      ordersLineitem.unionByName(eventsPurchases).orderBy(col("pair"))
    },
    Some {
      val p1 = pairSql("orders_lineitem", "orders", "o_orderkey", "",
        "lineitem", "l_orderkey", "", "1")
      val p2 = pairSql("events_purchases", "events", "user_id", "",
        "events", "user_id", "WHERE event_type = 'purchase'", "2")
      s"""WITH $p1,
      $p2,
      pairs AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2)
      SELECT pair, n_a, n_b, dist_a_est, dist_b_est, inter_est, est_rows, exact_rows,
        CAST(FLOOR(CAST(ABS(est_rows - exact_rows) AS DOUBLE) * 1000000.0 /
          GREATEST(exact_rows, 1) + 0.5) AS BIGINT) AS rel_err_ppm
      FROM pairs ORDER BY pair"""
    }
  )

  /** One key column's skew profile: per-key counts, the top-1/top-10
    * row shares, and the Gini coefficient of the count distribution
    * (rank × count moment over the globally-ranked relation — the
    * q_gini machinery applied to key frequencies). Everything after the
    * grouped count runs on KEY-cardinality rows, never input rows; the
    * top-10 is a TakeOrdered, and the rank product is Decimal-widened
    * before summing (rank × count × keys overflows int64 at corpus
    * scale). */
  private def skewReport(label: String, df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cnt = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.Ids.contiguousRowIds(
        cnt, Seq(col("cnt"), col("k")), numPartitions = 8)
      .select((col("row_id") + 1).as("i"), col("cnt"))
    val top10 = cnt.orderBy(col("cnt").desc, col("k")).limit(10)
      .agg(sum(col("cnt")).cast(LongType).as("top10_rows"))
    ranked.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).cast(LongType).as("n_rows"),
        max(col("cnt")).as("max_rows"),
        sum(col("i").cast(DecimalType(38, 0)) * col("cnt")).as("six"))
      .crossJoin(top10)
      .select(lit(label).as("key_col"), col("n_rows"), col("n_keys"), col("max_rows"),
        (floor(col("max_rows") * 1000000.0 / col("n_rows") + 0.5) / 1000000.0)
          .as("top1_share"),
        (floor(col("top10_rows") * 1000000.0 / col("n_rows") + 0.5) / 1000000.0)
          .as("top10_share"),
        round((lit(2.0) * col("six").cast(DoubleType) -
          (col("n_keys") + 1).cast(DoubleType) * col("n_rows").cast(DoubleType)) /
          (col("n_keys").cast(DoubleType) * col("n_rows").cast(DoubleType)), 6)
          .as("gini"))
  }

  private def skewSql(label: String, tbl: String, key: String, tag: String): String =
    s"""cnt$tag AS (SELECT $key AS k, COUNT(*) AS cnt FROM $tbl GROUP BY 1),
      r$tag AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt, k) AS BIGINT) AS i, cnt FROM cnt$tag),
      t$tag AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top10_rows FROM
        (SELECT cnt FROM cnt$tag ORDER BY cnt DESC, k LIMIT 10)),
      a$tag AS (SELECT COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
          MAX(cnt) AS max_rows, SUM(CAST(i AS DECIMAL(38,0)) * cnt) AS six FROM r$tag),
      f$tag AS (SELECT '$label' AS key_col, n_rows, n_keys, max_rows,
          FLOOR(max_rows * 1000000.0 / n_rows + 0.5) / 1000000.0 AS top1_share,
          FLOOR(top10_rows * 1000000.0 / n_rows + 0.5) / 1000000.0 AS top10_share,
          ROUND((2.0 * CAST(six AS DOUBLE) - CAST(n_keys + 1 AS DOUBLE) * CAST(n_rows AS DOUBLE)) /
            (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)), 6) AS gini
        FROM a$tag, t$tag)"""

  /** Join/aggregation KEY SKEW report: for each candidate key, how
    * concentrated the per-key row counts are. top1_share ≈ the share of
    * a shuffle landing on ONE reducer when no partial aggregate runs
    * before it (a join or a window; AQE's skew join splits such a
    * sort-merge-join partition at runtime); gini summarizes the whole
    * tail. Three representative keys (two lineitem FKs + the events
    * actor key) in one result so the report reads as a comparison. */
  val qKeySkewReport = GraftQuery(
    "q_key_skew_report",
    (s, dir) => {
      skewReport("events.user_id", Tables.events(s, dir), "user_id")
        .unionByName(skewReport("lineitem.l_partkey", Tables.lineitem(s, dir), "l_partkey"))
        .unionByName(skewReport("lineitem.l_suppkey", Tables.lineitem(s, dir), "l_suppkey"))
        .orderBy(col("key_col"))
    },
    Some {
      val s1 = skewSql("events.user_id", "events", "user_id", "1")
      val s2 = skewSql("lineitem.l_partkey", "lineitem", "l_partkey", "2")
      val s3 = skewSql("lineitem.l_suppkey", "lineitem", "l_suppkey", "3")
      s"""WITH $s1,
      $s2,
      $s3,
      rep AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
      SELECT * FROM rep ORDER BY key_col"""
    }
  )

  val all: Seq[GraftQuery] = Seq(qJoinSizeEstimate, qKeySkewReport)
}
