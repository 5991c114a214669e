package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Invariant coverage for the statistics/encoding queries beyond the
  * DuckDB hash gate: the correlation matrix against Spark's own corr(),
  * Kaplan-Meier against a hand-computed censored cohort, out-of-fold
  * encoding against the leave-fold-out definition. */
class StatQueriesSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.01"

  test("q_corr_matrix: exact-moment corr matches Spark's corr() per pair") {
    val rows = graft.SparkEntry.queries("q_corr_matrix")(spark, Dir).collect()
    assert(rows.length === 6) // C(4,2) pairs
    val li = graft.Tables.lineitem(spark, Dir)
    rows.foreach { r =>
      val (x, y, c) = (r.getString(0), r.getString(1), r.getDouble(2))
      val ref = li.agg(corr(col(x), col(y))).head().getDouble(0)
      assert(math.abs(c - ref) < 1e-6, s"corr($x, $y): $c vs Spark's $ref")
      assert(c >= -1.0 && c <= 1.0)
    }
  }

  test("q_target_encode: each cell's encoding is the mean of the OTHER folds") {
    val rows = graft.SparkEntry.queries("q_target_encode")(spark, Dir).collect()
    assert(rows.length === 25) // 5 segments x 5 folds
    val base = graft.Tables.orders(spark, Dir)
      .join(graft.Tables.customer(spark, Dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        pmod(col("o_orderkey"), lit(5L)).as("fold"),
        col("o_totalprice"))
    rows.take(5).foreach { r =>
      val (seg, fold, oof) = (r.getString(0), r.getLong(1),
        r.getDouble(r.fieldIndex("oof_mean")))
      val ref = base.filter(col("segment") === seg && col("fold") =!= fold)
        .agg(avg(col("o_totalprice"))).head().getDouble(0)
      // double-sum mean vs decimal-exact mean: agree well inside 1e-4
      assert(math.abs(oof - ref) < 1e-4, s"($seg, $fold): $oof vs $ref")
    }
    // leakage check: the encoding differs across folds within a segment
    // (identical values would mean the fold exclusion is a no-op)
    val bySeg = rows.groupBy(_.getString(0))
    assert(bySeg.values.exists(_.map(_.getDouble(3)).distinct.length > 1))
  }

  test("Kaplan-Meier on a hand-computed censored cohort") {
    import spark.implicits._
    // 4 users, day granularity: u1 converts day 0, u2 converts day 2,
    // u3 censored day 1, u4 censored day 2.
    //  day 0: n=4, d=1, c=0 -> S = 1 - 1/4            = 0.75
    //  day 1: n=3, d=0, c=1 -> S unchanged             0.75
    //  day 2: n=2, d=1, c=1 -> S = 0.75 * (1 - 1/2)  = 0.375
    def t(u: Long, day: Long, typ: String) =
      (u, new java.sql.Timestamp(1700000000000L + day * 86400000L), typ)
    val ev = Seq(
      t(1, 0, "view"), t(1, 0, "purchase"),
      t(2, 0, "view"), t(2, 2, "purchase"),
      t(3, 0, "view"), t(3, 1, "click"),
      t(4, 0, "view"), t(4, 2, "click"))
      .toDF("user_id", "ts", "event_type")
    val dir = tempDir("km").toString
    ev.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("q_survival")(spark, dir).collect()
    val s = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(s(0L) === ((4L, 1L, 0L, 0.75)))
    assert(s(1L) === ((3L, 0L, 1L, 0.75)))
    assert(s(2L) === ((2L, 1L, 1L, 0.375)))
  }

  test("q_ab_test: arms partition the users; Wilson CIs bracket the rates") {
    val r = graft.SparkEntry.queries("q_ab_test")(spark, Dir).head()
    def l(c: String) = r.getLong(r.fieldIndex(c))
    def d(c: String) = r.getDouble(r.fieldIndex(c))
    val users = graft.Tables.events(spark, Dir)
      .select(col("user_id")).distinct().count()
    assert(l("n_a") + l("n_b") === users)
    assert(l("c_a") <= l("n_a") && l("c_b") <= l("n_b"))
    // non-strict brackets: at a degenerate arm rate of exactly 0 or 1
    // the Wilson bound EQUALS the rate — correct behavior, not a miss
    assert(d("ci_a_lo") <= d("rate_a") && d("rate_a") <= d("ci_a_hi"))
    assert(d("ci_b_lo") <= d("rate_b") && d("rate_b") <= d("ci_b_hi"))
    // intervals stay inside [0,1] — the Wilson property the Wald CI lacks
    Seq("ci_a_lo", "ci_a_hi", "ci_b_lo", "ci_b_hi").foreach { c =>
      assert(d(c) >= 0.0 && d(c) <= 1.0, s"$c out of [0,1]")
    }
  }

  test("q_weighted_median: matches a direct weighted-rank computation") {
    val rows = graft.SparkEntry.queries("q_weighted_median")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val li = graft.Tables.lineitem(spark, Dir)
      .select(col("l_returnflag").as("flag"), col("l_extendedprice").as("v"),
        round(col("l_quantity") * 100).cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    rows.foreach { r =>
      val (flag, wm) = (r.getString(0), r.getDouble(r.fieldIndex("wmedian")))
      val grp = li.filter(_._1 == flag).sortBy(_._2)
      val tot = grp.map(_._3).sum
      var cum = 0L
      val direct = grp.find { case (_, _, w) => cum += w; 2 * cum >= tot }.get._2
      assert(wm === direct, s"flag $flag: $wm vs direct $direct")
    }
  }

  test("q_seasonal_baseline: cell means reproduce the total event count") {
    val rows = graft.SparkEntry.queries("q_seasonal_baseline")(spark, Dir).collect()
    assert(rows.length <= 168)
    // sum over cells of mean*n_days recovers the corpus event count;
    // mean_n is rounded to 1e-6, so tolerance scales with the worst-case
    // accumulated rounding (5e-7 per day-cell), not a fixed constant
    val recovered = rows.map(r =>
      r.getDouble(r.fieldIndex("mean_n")) * r.getLong(r.fieldIndex("n_days"))).sum
    val total = graft.Tables.events(spark, Dir).count()
    val tol = math.max(1e-3,
      1e-6 * rows.map(_.getLong(rows.head.fieldIndex("n_days"))).sum)
    assert(math.abs(recovered - total) < tol, s"$recovered vs $total (tol $tol)")
    rows.filter(!_.isNullAt(5)).foreach { r =>
      val z = r.getDouble(r.fieldIndex("max_z"))
      assert(z >= 0.0, s"max excursion must sit at or above the mean, got $z")
    }
  }

  test("Markov attribution: effects non-negative, attribution sums to 1, " +
      "single-channel chain takes full credit") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q_markov_attribution")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val attrs = rows.filter(!_.isNullAt(3)).map(_.getDouble(3))
    assert(math.abs(attrs.sum - 1.0) < 1e-4, s"attribution sums to ${attrs.sum}")
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("removal_effect")) >= 0.0,
        "removal can only reduce absorption (monotone fixed point)")
    }
    // a chain with ONE channel: removing it must kill all conversion →
    // attribution 1.0, and conv_prob is the exact share of converting users
    def t(u: Long, sec: Long, typ: String) =
      (u, u * 10 + sec, new java.sql.Timestamp(1700000000000L + sec * 1000L), typ)
    val ev = Seq(
      t(1, 0, "view"), t(1, 1, "purchase"),
      t(2, 0, "view"), t(2, 1, "view"),
      t(3, 0, "view"), t(3, 1, "purchase"),
      t(4, 0, "view"))
      .toDF("user_id", "event_id", "ts", "event_type")
    val dir = tempDir("mk").toString
    ev.select($"user_id", $"ts", $"event_id", $"event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("q_markov_attribution")(spark, dir).collect()
    assert(out.length === 1)
    assert(out(0).getString(0) === "view")
    assert(out(0).getDouble(out(0).fieldIndex("attribution")) === 1.0)
    // start→view (4/4), view→conv 2/5, view→view 1/5, view→null 2/5:
    // absorption = p where p = 0.4 + 0.2·p → 0.5 at the fixed point;
    // 12 integer rounds land within 1e-4 of it
    val cp = out(0).getDouble(out(0).fieldIndex("conv_prob"))
    assert(math.abs(cp - 0.5) < 1e-4, s"conv_prob $cp")
  }

  test("q_copurchase: similarity bounds and a direct pair-count recount") {
    val rows = graft.SparkEntry.queries("q_copurchase")(spark, Dir).collect()
    assert(rows.nonEmpty && rows.length <= 25)
    rows.foreach { r =>
      val (nb, n1, n2) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nb >= 2 && nb <= math.min(n1, n2),
        "co-occurrence cannot exceed either item's support")
      val cos = r.getDouble(r.fieldIndex("cosine"))
      assert(cos > 0.0 && cos <= 1.0)
    }
    // recount the top pair's co-occurrence straight off lineitem
    val top = rows.head
    val (p1, p2) = (top.getLong(0), top.getLong(1))
    val li = graft.Tables.lineitem(spark, Dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val recount = li.filter(col("l_partkey") === p1)
      .join(li.filter(col("l_partkey") === p2), "l_orderkey").count()
    assert(recount === top.getLong(2), s"top pair recount $recount vs ${top.getLong(2)}")
  }

  test("q_multi_ols recovers a planted exact linear relationship") {
    import spark.implicits._
    // y = 3 + 2*q + 5*d exactly -> coefficients recover exactly, r2 = 1
    val rows = for {
      q <- 1 to 6
      d <- Seq(0.00, 0.02, 0.04, 0.08)
    } yield ("A", q.toDouble, d, 3.0 + 2.0 * q + 5.0 * d)
    val dir = tempDir("ols").toString
    rows.toDF("l_returnflag", "l_quantity", "l_discount", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.SparkEntry.queries("q_multi_ols")(spark, dir).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getDouble(r.fieldIndex("b0")) === 3.0)
    assert(r.getDouble(r.fieldIndex("b1")) === 2.0)
    assert(r.getDouble(r.fieldIndex("b2")) === 5.0)
    assert(r.getDouble(r.fieldIndex("r2")) === 1.0)
  }

  test("CDC apply: last-writer-wins with tombstone resolution") {
    import spark.implicits._
    def t(u: Long, sec: Long, typ: String, v: Double) =
      (u, u * 100 + sec, new java.sql.Timestamp(1700000000000L + sec * 1000L), typ, v)
    val ev = Seq(
      t(1, 0, "signup", 1.0), t(1, 1, "view", 2.0), t(1, 2, "error", 0.0), // ends deleted
      t(2, 0, "signup", 1.0), t(2, 1, "error", 0.0), t(2, 2, "signup", 7.5), // reinserted
      t(3, 0, "view", 3.25)) // update-only key
      .toDF("user_id", "event_id", "ts", "event_type", "value")
    val dir = tempDir("cdc").toString
    ev.select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("q_cdc_apply")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(3), r.getLong(4)))).toMap
    assert(!out.contains(1L), "a key whose last op is DELETE must be absent")
    assert(out(2L) === (("I", 7.5, 3L)), "delete-then-reinsert keeps the later value")
    assert(out(3L) === (("U", 3.25, 1L)))
  }

  test("CUSUM window formulation equals the textbook recursion") {
    val rows = graft.SparkEntry.queries("q_cusum")(spark, Dir).collect()
    assert(rows.nonEmpty)
    val xs = rows.map(_.getLong(1).toDouble)
    val n = xs.length
    val mu = xs.sum / n
    val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (n - 1))
    var cHi = 0.0; var cLo = 0.0
    rows.zip(xs).foreach { case (r, x) =>
      cHi = math.max(0.0, cHi + x - mu - sd / 2)
      cLo = math.max(0.0, cLo + mu - x - sd / 2)
      assert(math.abs(r.getDouble(2) - cHi) < 1e-4,
        s"day ${r.getLong(0)}: cusum_hi ${r.getDouble(2)} vs recursion $cHi")
      assert(math.abs(r.getDouble(3) - cLo) < 1e-4,
        s"day ${r.getLong(0)}: cusum_lo ${r.getDouble(3)} vs recursion $cLo")
    }
  }

  test("q_rfm: segment cells partition the customer base; scores in 1..5") {
    val rows = graft.SparkEntry.queries("q_rfm")(spark, Dir).collect()
    assert(rows.nonEmpty && rows.length <= 125)
    val total = rows.map(_.getLong(3)).sum
    val nCust = graft.Tables.orders(spark, Dir)
      .select(col("o_custkey")).distinct().count()
    assert(total === nCust, "every customer lands in exactly one segment")
    rows.foreach { r =>
      Seq(0, 1, 2).foreach { i =>
        val sc = r.getInt(i)
        assert(sc >= 1 && sc <= 5, s"score out of range: $sc")
      }
      assert(r.getDouble(4) > 0.0)
    }
    // quintile scoring must actually spread: each dimension uses >= 4
    // distinct scores on this data
    Seq(0, 1, 2).foreach { i =>
      assert(rows.map(_.getInt(i)).distinct.length >= 4, s"dim $i collapsed")
    }
  }

  test("q_price_index: Fisher between Laspeyres and Paasche; flat prices give 1.0") {
    import spark.implicits._
    val rows = graft.SparkEntry.queries("q_price_index")(spark, Dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (l, p, f) = (r.getDouble(r.fieldIndex("laspeyres")),
        r.getDouble(r.fieldIndex("paasche")), r.getDouble(r.fieldIndex("fisher")))
      assert(f >= math.min(l, p) - 1e-6 && f <= math.max(l, p) + 1e-6,
        s"Fisher $f outside [$l, $p]")
      assert(l > 0 && p > 0)
    }
    // planted flat prices across two years -> all indices exactly 1.0
    val li = Seq(
      (1L, ts("1995-06-01"), 10.0, 100.0), (2L, ts("1995-06-01"), 5.0, 35.0),
      (1L, ts("1996-06-01"), 4.0, 40.0), (2L, ts("1996-06-01"), 10.0, 70.0))
      .toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val dir = tempDir("pidx").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.SparkEntry.queries("q_price_index")(spark, dir).collect()
    assert(out.length === 1)
    Seq("laspeyres", "paasche", "fisher").foreach { c =>
      assert(out(0).getDouble(out(0).fieldIndex(c)) === 1.0, s"$c not 1.0")
    }
  }

  private def ts(d: String) = java.sql.Timestamp.valueOf(s"$d 00:00:00")

  test("q_cohort_ltv: curves are monotone and offsets bounded by retention span") {
    val rows = graft.SparkEntry.queries("q_cohort_ltv")(spark, Dir).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, curve) =>
      val sorted = curve.sortBy(_.getLong(1))
      val cums = sorted.map(_.getDouble(3))
      assert(cums.zip(cums.tail).forall { case (a, b) => b >= a - 1e-9 },
        "cumulative revenue must be monotone in the offset")
      sorted.foreach { r =>
        assert(r.getDouble(4) <= r.getDouble(3) + 1e-9,
          "per-user LTV cannot exceed the cohort total")
      }
    }
  }

  test("q_did: estimate equals the four cell means' double difference") {
    val r = graft.SparkEntry.queries("q_did")(spark, Dir).head()
    def d(c: String) = r.getDouble(r.fieldIndex(c))
    val direct = (d("mean_b_post") - d("mean_b_pre")) -
      (d("mean_a_post") - d("mean_a_pre"))
    assert(math.abs(d("did") - direct) < 2e-6, s"${d("did")} vs $direct")
    assert(d("se") > 0.0)
    Seq("mean_a_pre", "mean_a_post", "mean_b_pre", "mean_b_post")
      .foreach(c => assert(d(c) >= 0.0))
  }

  test("q_funnel_windowed: deadlines can only shrink the unbounded funnel") {
    val wr = graft.SparkEntry.queries("q_funnel_windowed")(spark, Dir).head()
    val ur = graft.SparkEntry.queries("q_funnel")(spark, Dir).head()
    def l(r: org.apache.spark.sql.Row, c: String) = r.getLong(r.fieldIndex(c))
    assert(l(wr, "n_users") === l(ur, "n_users"))
    assert(l(wr, "n_viewed") === l(ur, "n_viewed"))
    assert(l(wr, "n_clicked_1h") <= l(ur, "n_clicked"),
      "a deadline cannot admit more clicks than the unbounded stage")
    // note: stage-3 counts are NOT comparable across the two queries
    // (the windowed purchase chains from a DIFFERENT click instant), so
    // only the monotone stage-2 bound is asserted
    assert(l(wr, "n_purchased_24h") <= l(wr, "n_clicked_1h"))
  }

  test("q_conversion_latency: quantiles are ordered and n matches a direct count") {
    val r = graft.SparkEntry.queries("q_conversion_latency")(spark, Dir).head()
    val n = r.getLong(r.fieldIndex("n_converted"))
    assert(n > 0)
    val qs = Seq("p25", "p50", "p75", "p90").map(c => r.getDouble(r.fieldIndex(c)))
    assert(qs.zip(qs.tail).forall { case (a, b) => a <= b }, s"unordered: $qs")
    assert(qs.head >= 0.0) // strictly-after join can't produce negatives
  }

  test("q_shapley_attribution: efficiency — credits sum to v(grand coalition)") {
    import org.apache.spark.sql.functions._
    val phis = graft.SparkEntry.queries("q_shapley_attribution")(spark, Dir)
      .collect().map(r => r.getDouble(r.fieldIndex("phi")))
    assert(phis.length === 4)
    // when every coalition is observed (true at sf0.01 — asserted), exact
    // Shapley efficiency holds: sum(phi_i) = v(N) - v(empty) = v(1111)
    import spark.implicits._
    val masks = graft.Tables.events(spark, Dir)
      .select($"user_id", date_trunc("day", $"ts").as("day"),
        when($"event_type" === "click", 1L).when($"event_type" === "error", 2L)
          .when($"event_type" === "signup", 4L).when($"event_type" === "view", 8L)
          .otherwise(0L).as("bit"),
        ($"event_type" === "purchase").cast("int").as("conv"))
      .groupBy($"user_id", $"day")
      .agg(expr("bit_or(bit)").as("mask"), max($"conv").as("conv"))
      .filter($"mask" > 0)
      .groupBy($"mask")
      .agg(count(lit(1)).as("users"), sum($"conv").as("convs"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(masks.size === 15, s"expected all 15 coalitions observed, got ${masks.size}")
    val (u15, c15) = masks(15L)
    val vGrand = math.floor(c15 * 1e6 / u15 + 0.5) / 1e6
    assert(math.abs(phis.sum - vGrand) < 1e-4,
      s"efficiency violated: sum(phi)=${phis.sum} vs v(N)=$vGrand")
  }
}
