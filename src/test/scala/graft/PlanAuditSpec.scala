package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan audit: the properties that make these queries scale are
  * asserted, not assumed — a regression that drops a broadcast, loses a
  * pushed filter, or sneaks in a cartesian product fails here, long
  * before it shows up as a 100 TB incident.
  */
class PlanAuditSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    // clear operator caches first — the Bench/Verify between-query
    // discipline. Cache lookup is by LOGICAL PLAN, so a relation cached
    // while building an EARLIER test's plan (e.g. q_conductance's kn)
    // would substitute InMemoryRelation into THIS query's identical
    // subtree and inflate its plan-text census test-order-dependently.
    graft.operators.Caches.unpersistAll()
    spark.catalog.clearCache()
    val df = SparkEntry.queries(name)(spark, Dir)
    df.queryExecution.executedPlan.toString
  }

  private def rmTree(root: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(root))
  }

  test("dimension joins broadcast (never shuffle the fact side)") {
    Seq("q_join_segment_revenue", "q_join_nation_revenue",
        "q_join_region_revenue", "q_rollup").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcast join:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
  }

  test("flagship query: broadcast dims + partial aggregation") {
    val p = plan("q_top_customers")
    assert(p.contains("BroadcastHashJoin"))
    // pre-aggregation of lineitem per order must keep map-side combine
    assert(p.contains("partial_sum") || p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"))
  }

  test("date-range filter reaches the parquet scan (PushedFilters)") {
    val p = plan("q_revenue_by_year")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), " +
      "GreaterThanOrEqual(o_orderdate") || p.contains("PushedFilters: [Is"),
      s"filter not pushed to scan:\n$p")
  }

  test("top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), s"q_topk plans a full sort:\n$p")
  }

  test("column pruning: pricing summary reads only the needed columns") {
    val df = SparkEntry.queries("q1_pricing_summary")(spark, Dir)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val scan = scans.find(_.contains("ReadSchema")).getOrElse(fail("no scan found"))
    // only the 5 referenced lineitem columns, not all 16
    Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount")
      .foreach(c => assert(scan.contains(c)))
    Seq("l_comment", "l_shipdate", "l_partkey")
      .foreach(c => assert(!scan.contains(c), s"unpruned column $c in scan"))
  }

  test("bucketed fact-fact join is a SortMergeJoin with Exchange-free sides") {
    val df = SparkEntry.queries("q_bucketed_join")(spark, Dir)
    df.collect()
    // AQE prints Final and Initial sections — audit only the final plan
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("SortMergeJoin"), s"bucketed join not SMJ:\n$p")
    val joinIdx = p.indexOf("SortMergeJoin")
    // everything below the join comes from the bucketed scans: the ONLY
    // Exchange allowed in the plan is the groupBy's, which sits above
    assert(!p.substring(joinIdx).contains("Exchange"),
      s"bucketed join sides still shuffle:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"expected only the aggregate exchange:\n$p")
    // both scans actually read the bucketed layout
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan not bucketed:\n$p")
  }

  test("q_rank_topk and q_dense_topk route through the tie-keeping heap operator") {
    for (q <- Seq("q_rank_topk", "q_dense_topk")) {
      // PHYSICAL plan, not just logical: the rewrite must survive
      // planning into the TopKPerKeyExec heap
      val p = plan(q)
      assert(p.contains("TopKPerKey ["), s"$q rewrite did not reach the physical plan:\n$p")
    }
  }

  test("q_topk_elide: rank unused => Window AND Filter elided, bare heap survives") {
    // TopKRewriteRule case 1 end-to-end on a REGISTERED, hash-green
    // query: the physical plan is the TopKPerKey heap with no window
    // node of any kind left — no rank sort, no WindowGroupLimit, no
    // rank filter. This is the shape Spark's builtin cannot produce.
    val p = plan("q_topk_elide")
    assert(p.contains("TopKPerKey ["),
      s"q_topk_elide rewrite did not reach the physical plan:\n$p")
    assert(!p.contains("Window") && !p.contains("RunningWindowFunction"),
      s"q_topk_elide kept a window node the elision should have dropped:\n$p")
    assert(!p.contains("row_number"),
      s"q_topk_elide still computes the rank it never outputs:\n$p")
  }

  test("TPC-H topologies broadcast their dims; only the orderkey join shuffles") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q7", "q_tpch_q12")) {
      // pre-execution plan: at tiny SFs AQE can collapse an empty result
      // to EmptyRelation, erasing the join nodes this test audits
      val p = SparkEntry.queries(q)(spark, Dir)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      if (q != "q_tpch_q12") // q12 joins no dims
        assert(p.contains("BroadcastHashJoin"), s"$q lost its dim broadcast:\n$p")
    }
  }

  test("round-5 TPC-H topologies: broadcasts intact, anti join present, no cartesian") {
    for (q <- Seq("q_tpch_q2", "q_tpch_q10", "q_tpch_q18")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its dim broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
    }
    val p22 = plan("q_tpch_q22")
    // the 1-row threshold aggregate broadcasts (nested-loop over one row
    // is the intended shape, NOT a cartesian of two real relations)
    assert(p22.contains("LeftAnti"), s"q_tpch_q22 lost the anti join:\n$p22")
    assert(!p22.contains("CartesianProduct"), s"q_tpch_q22 has a cartesian product")
  }

  test("round-6 TPC-H topologies: pre-aggregated outer join, windowed correlation, one backbone shuffle") {
    // Q13: the aggregate must sit BELOW the outer join (orders collapse
    // to one row per customer before joining)
    val p13 = plan("q_tpch_q13")
    assert(!p13.contains("CartesianProduct"), s"q_tpch_q13 has a cartesian product")
    val outerIdx = p13.indexOf("LeftOuter")
    assert(outerIdx >= 0, s"q_tpch_q13 lost the outer join:\n$p13")
    assert(p13.substring(outerIdx).contains("HashAggregate"),
      s"q_tpch_q13 joins raw orders instead of pre-aggregated counts:\n$p13")
    // Q17: correlation via window, not a self-join — exactly one join
    // (the broadcast brand filter)
    val p17 = plan("q_tpch_q17")
    assert(p17.contains("BroadcastHashJoin"), s"q_tpch_q17 lost the part broadcast:\n$p17")
    assert("Join".r.findAllIn(p17).length <= 2, // one join printed as "BroadcastHashJoin ... Join" tokens
      s"q_tpch_q17 self-joins instead of windowing:\n$p17")
    assert(p17.contains("Window"), s"q_tpch_q17 lost the window correlation:\n$p17")
    // Q21: supplier names broadcast; no cartesian anywhere
    val p21 = plan("q_tpch_q21")
    assert(p21.contains("BroadcastHashJoin"), s"q_tpch_q21 lost the supplier broadcast:\n$p21")
    assert(!p21.contains("CartesianProduct"), s"q_tpch_q21 has a cartesian product")
    // Q6: every predicate reaches the parquet scan — the whole point
    val df6 = SparkEntry.queries("q_tpch_q6")(spark, Dir)
    // plain toString truncates scan metadata; FormattedMode prints the
    // full PushedFilters list
    val scan6 = df6.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity").foreach(f =>
      assert(scan6.contains(f), s"q_tpch_q6 lost pushdown of $f:\n$scan6"))
    assert(!plan("q_tpch_q6").contains("Join"), "q_tpch_q6 must not join")
    // Q15: the 1-row max and the supplier dim both broadcast
    val p15 = plan("q_tpch_q15")
    assert("BroadcastHashJoin".r.findAllIn(p15).length >= 2,
      s"q_tpch_q15 lost a broadcast (max or supplier):\n$p15")
    // Q8: widest dim fan — all five dims broadcast, one orderkey shuffle
    val p8 = plan("q_tpch_q8")
    assert("BroadcastHashJoin".r.findAllIn(p8).length >= 5,
      s"q_tpch_q8 should broadcast part+customer+supplier+nation x2:\n$p8")
    assert(!p8.contains("CartesianProduct"), s"q_tpch_q8 has a cartesian product")
  }

  test("completing TPC-H topologies: Q9/Q11/Q16/Q20 plan shapes") {
    // Q9: five-table star — part/supplier/nation all broadcast onto the
    // lineitem⋈orders backbone; only keyed shuffles
    val p9 = plan("q_tpch_q9")
    assert("BroadcastHashJoin".r.findAllIn(p9).length >= 3,
      s"q_tpch_q9 should broadcast part+supplier+nation:\n$p9")
    assert(!p9.contains("CartesianProduct"), s"q_tpch_q9 has a cartesian product")
    // Q11: the global-fraction threshold is a 1-ROW broadcast compared
    // under a non-equi condition (BroadcastNestedLoopJoin over one row is
    // the right plan — never a shuffle); the nation-filtered supplier
    // list broadcasts as a hash join
    val p11 = plan("q_tpch_q11")
    assert(p11.contains("BroadcastNestedLoopJoin"),
      s"q_tpch_q11 lost the 1-row threshold broadcast:\n$p11")
    assert(p11.contains("BroadcastHashJoin"),
      s"q_tpch_q11 lost the supplier-list broadcast:\n$p11")
    // Q16: the exclusion list applies as a BROADCAST ANTI join above the
    // scan — excluded suppliers never reach the distinct-count shuffle
    val p16 = plan("q_tpch_q16")
    assert(p16.contains("LeftAnti"), s"q_tpch_q16 lost the anti join:\n$p16")
    assert("BroadcastHashJoin".r.findAllIn(p16).length >= 1,
      s"q_tpch_q16 lost the part broadcast:\n$p16")
    assert(!p16.contains("CartesianProduct"), s"q_tpch_q16 has a cartesian product")
    // Q20: nested semi-chain — the HAVING aggregate feeds supplier as a
    // SEMI join (only supplier keys flow out of the aggregate)
    val p20 = plan("q_tpch_q20")
    assert(p20.contains("LeftSemi"), s"q_tpch_q20 lost the semi join:\n$p20")
    assert(!p20.contains("CartesianProduct"), s"q_tpch_q20 has a cartesian product")
  }

  test("corpus additions: bounded shuffles, no cartesian, right join shapes") {
    // novelty / repeated spans: hash-keyed rollup + join + per-doc
    // window — nothing beyond the keyed exchanges (at this SF, AQE
    // broadcasts the aggregate side of the join back; at corpus scale it
    // degrades to an SMJ sharing the hash partitioning — either way the
    // raw text never shuffles and nothing goes cartesian)
    for (q <- Seq("q_ngram_novelty", "q_repeated_spans")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).length <= 3,
        s"$q shuffles more than hash-rollup + islands:\n$p")
    }
    // temperature sample: the |langs|-row totals relation joins as a
    // 1-ROW BroadcastNestedLoopJoin (the crossJoin) + a broadcast hash
    // join of the rates — the corpus never shuffles for either
    val pt = plan("q_temperature_sample")
    assert(pt.contains("BroadcastNestedLoopJoin"),
      s"q_temperature_sample lost the 1-row total broadcast:\n$pt")
    assert(pt.contains("BroadcastHashJoin"),
      s"q_temperature_sample lost the rates broadcast:\n$pt")
    // bpe merges: join-free — vocab rollup + pair rollup, two exchanges
    val pb = plan("q_bpe_merges")
    assert(!pb.contains("Join"), s"q_bpe_merges must not join:\n$pb")
    assert("Exchange hashpartitioning".r.findAllIn(pb).length <= 2,
      s"q_bpe_merges shuffles more than vocab + pair rollups:\n$pb")
    // snapshot diff: the version join is a FULL-OUTER SMJ on the key
    // (not broadcastable by semantics), and nothing else joins
    val ps = plan("q_snapshot_diff")
    assert(ps.contains("SortMergeJoin") && ps.contains("FullOuter"),
      s"q_snapshot_diff lost the full-outer key join:\n$ps")
    assert(!ps.contains("CartesianProduct"), s"q_snapshot_diff has a cartesian product")
  }

  test("round-6 additions: broadcasts where expected, no global window, no cartesian") {
    // boilerplate strip: the hot-window set must BROADCAST into the
    // flagging join (it is the boilerplate vocabulary, not the corpus);
    // the corpus-sized shuffles are the df pass and the reassembly only
    val pb = plan("q_boilerplate_strip")
    assert(pb.contains("BroadcastHashJoin"), s"hot-window set stopped broadcasting:\n$pb")
    assert(!pb.contains("SortMergeJoin") && !pb.contains("CartesianProduct"),
      s"q_boilerplate_strip grew a corpus-sized join:\n$pb")
    // semantic dedup: the dropped-id relation is pair-graph-sized — the
    // final anti-join must be a broadcast, and nothing may go cartesian
    val ps = plan("q_semantic_dedup")
    assert(ps.contains("BroadcastHashJoin") && ps.contains("LeftAnti"),
      s"q_semantic_dedup lost the broadcast anti-join:\n$ps")
    assert(!ps.contains("CartesianProduct"), s"q_semantic_dedup went cartesian:\n$ps")
    // CMS: the d·w counter table broadcasts into the probe join
    val pc = plan("q_cms_counts")
    assert(pc.contains("BroadcastHashJoin"), s"counter table stopped broadcasting:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"q_cms_counts went cartesian:\n$pc")
    // equi-depth histogram: the 1-row boundary relation joins as a
    // BroadcastNestedLoopJoin (same shape as q_histogram's bounds)
    val pe = plan("q_equidepth_hist")
    assert(pe.contains("BroadcastNestedLoopJoin"),
      s"q_equidepth_hist lost the 1-row boundary broadcast:\n$pe")
    // contiguous ids / shard manifest: the WHOLE POINT is no global
    // window — a Window node in either plan means the enumeration
    // regressed to the single-partition formulation
    for (q <- Seq("q_contiguous_ids", "q_shard_manifest")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q regressed to a global window sort:\n$p")
      assert(p.contains("Scan ExistingRDD"),
        s"$q no longer runs the zipWithIndex enumeration:\n$p")
    }
  }

  test("late round-6 additions: index/sampling/smoothing plan shapes") {
    // inverted index: two keyed rollups, join-free
    val pi = plan("q_inverted_index")
    assert(!pi.contains("Join"), s"q_inverted_index must not join:\n$pi")
    assert("Exchange hashpartitioning".r.findAllIn(pi).length <= 2,
      s"q_inverted_index shuffles more than (term,doc) + term rollups:\n$pi")
    // negative sampling: the 1-row count broadcasts (BNLJ), the md5
    // relation joins keyed, and rank<=2 is group-limit-pruned — never a
    // full per-key sort without a limit node
    val pn = plan("q_negative_sample")
    assert(pn.contains("BroadcastNestedLoopJoin"),
      s"q_negative_sample lost the 1-row count broadcast:\n$pn")
    assert(pn.contains("WindowGroupLimit") || pn.contains("TopKPerKey"),
      s"q_negative_sample rank<=2 is not group-limit pruned:\n$pn")
    assert(!pn.contains("CartesianProduct"), s"q_negative_sample went cartesian:\n$pn")
    // EWMA: join-free — daily rollup + per-type collect + explode
    val pe = plan("q_ewma")
    assert(!pe.contains("Join"), s"q_ewma must not join:\n$pe")
    // BPE encode: the per-token symbol counts broadcast back to the stream
    val pb = plan("q_bpe_encode")
    assert(pb.contains("BroadcastHashJoin"),
      s"q_bpe_encode lost the encoded-vocab broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct"), s"q_bpe_encode went cartesian:\n$pb")
  }

  test("warehouse/event additions: keyed shuffles only, no cartesian") {
    for (q <- Seq("q_scd2_history", "q_funnel", "q_retention", "q_transitions",
        "q_dup_inflation", "q_embed_norms")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    // q_embed_norms is map-only up to its tiny per-label rollup: exactly
    // one hash exchange (the groupBy); the per-vector fold never shuffles
    val pn = plan("q_embed_norms")
    assert("Exchange hashpartitioning".r.findAllIn(pn).length <= 1,
      s"q_embed_norms shuffles more than the rollup:\n$pn")
  }

  test("corpus reports: covariance is one corpus pass, split is one rollup, overlap broadcasts sizes") {
    // q_embed_covariance: the fused Gram aggregate — only the
    // state-merge exchange (SinglePartition of ~17 KB states) plus the
    // final sort; no hash exchange, no generator, no joins, one scan
    val pc = plan("q_embed_covariance")
    assert("Exchange hashpartitioning".r.findAllIn(pc).isEmpty,
      s"covariance should only merge states, not hash-shuffle rows:\n$pc")
    assert(pc.contains("gram_matrix"), s"covariance lost the fused kernel:\n$pc")
    // the only allowed Generate is the inline() of the ONE finished row —
    // a posexplode marks a regression to the per-pair explode plan
    assert(!pc.contains("posexplode"), s"covariance regressed to the explode plan:\n$pc")
    assert("Generate".r.findAllIn(pc).length === 1 && pc.contains("inline"),
      s"covariance should only inline the finished report:\n$pc")
    assert(!pc.contains("Join"), s"covariance must not join:\n$pc")
    val scans = "Scan parquet".r.findAllIn(pc).length
    assert(scans === 1, s"covariance should scan the corpus once, saw $scans:\n$pc")
    // q_split_assign: map-only assignment, one rollup + the share window
    val ps = plan("q_split_assign")
    assert(!ps.contains("Join"), s"split assignment must not join:\n$ps")
    assert("Exchange hashpartitioning".r.findAllIn(ps).length <= 2,
      s"split assignment shuffles more than rollup+window:\n$ps")
    // q_source_overlap: per-source set sizes broadcast back onto the
    // source-pair rollup — the overlap join itself is keyed, not cartesian
    val po = plan("q_source_overlap")
    assert(po.contains("BroadcastHashJoin"), s"overlap sizes not broadcast:\n$po")
    assert(!po.contains("CartesianProduct"), s"overlap has a cartesian product:\n$po")
    // q_token_budget: ONE corpus shuffle (the per-source rollup); the
    // global windows run over the sources-sized aggregate above it
    val pt = plan("q_token_budget")
    assert(!pt.contains("Join"), s"token budget must not join:\n$pt")
    val rollupIdx = pt.lastIndexOf("Exchange hashpartitioning")
    assert(rollupIdx >= 0 && !pt.substring(0, rollupIdx).contains("Exchange hashpartitioning"),
      s"token budget should hash-shuffle only for the per-source rollup:\n$pt")
    // q_delta_neardup: keyed band-bucket joins only, never a cartesian
    val pd = plan("q_delta_neardup")
    assert(!pd.contains("CartesianProduct"), s"delta neardup has a cartesian product:\n$pd")
  }

  test("curation pipeline: two keyed shuffles (fingerprint window + source rollup)") {
    val p = plan("q_curation_pipeline")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
    // map-side expressions + the fingerprint window + the per-source
    // aggregate: at most two hash exchanges regardless of corpus size
    // (the final orderBy adds a range exchange, not a hash one)
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"curation pipeline shuffles more than fingerprint+rollup:\n$p")
  }

  test("decontamination broadcasts the eval shingle set") {
    val df = SparkEntry.queries("q_decontaminate")(spark, Dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"eval set not broadcast — corpus shingles would shuffle:\n$p")
  }

  test("LSH-bucket-partitioned layout prunes probe scans to probed partitions") {
    // the SCALING.md claim made real: write embeddings partitioned by
    // LSH bucket, read back, filter to the probe set — the scan must
    // show a partition filter and read only the probed partitions
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val tmp = tempDir("graft_ann_layout").toString
    val emb = Tables.embeddings(spark, Dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    emb.withColumn("bucket", Similarity.portableBucketNative(col("embedding"), 3, 64))
      .write.partitionBy("bucket").mode("overwrite").parquet(tmp)
    val probes = Seq(0L, 1L) // any 2 of the 8 buckets
    val probed = spark.read.parquet(tmp).filter(col("bucket").isin(probes: _*))
    probed.collect()
    val scan = probed.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("FileScan"))
      .getOrElse(fail("no file scan"))
    assert(scan.contains("PartitionFilters: [bucket"),
      s"bucket filter did not become a partition filter:\n$scan")
    // only rows from the probed buckets were read at all
    val total = spark.read.parquet(tmp).count()
    assert(probed.count() < total)
    rmTree(tmp)
  }

  test("IVF index layout: a probe of c cells scans only c cell partitions") {
    // writeIndex/searchIndex end-to-end: the cell predicate must prune
    // DIRECTORIES at planning time (PartitionFilters), and the pruned
    // scan must return exactly what the in-memory search returns
    import org.apache.spark.sql.functions._
    import graft.operators.IvfIndex
    val tmp = tempDir("graft_ivf_layout").toString
    val emb = Tables.embeddings(spark, Dir)
      .withColumn("embedding", col("embedding").cast("array<double>"))
    val model = IvfIndex.fit(emb, "embedding", k = 8)
    IvfIndex.writeIndex(emb, "embedding", model, tmp)
    val q = emb.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect()(0).getSeq[Double](0)
    val res = IvfIndex.searchIndex(spark, tmp, "vec_id", "embedding", model,
      q, k = 10, nProbe = 2)
    val rows = res.collect()
    assert(rows.length === 10)
    val scan = res.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(_.contains("FileScan"))
      .getOrElse(fail("no file scan"))
    assert(scan.contains("PartitionFilters: [ivf_cell"),
      s"cell filter did not become a partition filter:\n$scan")
    // identical result to the in-memory cell-filtered search
    val mem = IvfIndex.search(emb, "vec_id", "embedding", model, q,
      k = 10, nProbe = 2).collect()
    assert(rows.toSeq === mem.toSeq)
    rmTree(tmp)
  }

  test("IVF-PQ index layout: pruned cell scan over CODES only, re-rank recovers neighbors") {
    // the persisted IVFADC artifact: partition directories are the
    // inverted file, codes are the only per-vector payload — so the
    // search's file scan must (a) prune to the probed cells at plan
    // time and (b) read a code-only schema, never vector bytes; the
    // exact re-rank then fetches true vectors for shortlist ids only
    import org.apache.spark.sql.functions._
    import graft.operators.{FixedPointKMeans, IvfPq}
    val tmp = tempDir("graft_ivfpq_layout").toString
    val quant = Tables.embeddings(spark, Dir)
      .select(col("vec_id"),
        FixedPointKMeans.quantize(col("embedding").cast("array<double>")).as("v"))
      .cache()
    val model = IvfPq.fit(quant, "vec_id", "v",
      kCoarse = 8, m = 4, subD = 16, kCodes = 8, rounds = 2)
    IvfPq.writeIndex(quant, "vec_id", "v", model, tmp)
    val q = quant.orderBy(col("vec_id")).limit(1)
      .select(col("v")).collect()(0).getSeq[Long](0)
    val res = IvfPq.searchIndex(spark, tmp, model, q, nProbe = 2,
      shortlistN = 50, quant, "vec_id", "v", k = 20)
    val rows = res.collect()
    assert(rows.length === 20)
    val scan = res.queryExecution.executedPlan.collectLeaves()
      .map(_.toString)
      .find(s => s.contains("FileScan parquet") && s.contains("ivf_cell"))
      .getOrElse(fail("no pruned index scan"))
    assert(scan.contains("PartitionFilters: [ivf_cell"),
      s"cell predicate did not become a partition filter:\n$scan")
    assert(!scan.contains("array<bigint>"),
      s"index scan reads vector bytes — the compression is fictional:\n$scan")
    // recall vs the brute-force exact integer-L2 top-20
    val exact = quant
      .select(col("vec_id"),
        FixedPointKMeans.bestOf(col("v"), Seq((0, q)))("d").as("d"))
      .orderBy(col("d"), col("vec_id")).limit(20)
      .collect().map(_.getLong(0)).toSet
    val got = rows.map(_.getAs[Long]("vec_id")).toSet
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.5, s"persisted-index recall $recall below floor")
    // the query is its own nearest neighbor: in the corpus, primary
    // cell always probed, exact distance 0 ranks first
    assert(rows.head.getAs[Long]("vec_id") === 0L &&
      rows.head.getAs[Long]("dist") === 0L,
      "query failed to retrieve itself first")
    quant.unpersist()
    rmTree(tmp)
  }

  test("self-certifying plans: 1-row certificates broadcast; quantization is join-free") {
    // withRecall crossJoins a 1-row aggregate back over the k result
    // rows — that must plan as a broadcast loop join, never a shuffled
    // cartesian (the certificate is metadata, not a data join)
    val ann = plan("q_ann_topk")
    assert(ann.contains("BroadcastNestedLoopJoin"),
      s"recall certificate is not broadcast:\n$ann")
    assert(!ann.contains("CartesianProduct"), "recall join became a cartesian")
    // the fused quantization kernel keeps q_embed_quantize a pure map
    // plan (scan → project → sort); no join machinery anywhere
    val qz = plan("q_embed_quantize")
    assert(!qz.contains("Join"), s"quantization plan grew a join:\n$qz")
    assert(qz.contains("graft_quantize_stats"),
      s"fused kernel missing from the plan:\n$qz")
  }

  test("round-13 additions: broadcast fine-cell join, slice-confined quadratic, 1-row certificates") {
    // two-level SemDeDup: the fine-assignment join on the coarse cell id
    // must BROADCAST (the fine matrix is k×d longs — driver scale); the
    // pair verify shuffles on the cluster key only; nothing cartesian
    val p2l = plan("q_semdedup_2l")
    assert(p2l.contains("BroadcastHashJoin"),
      s"fine-cell join lost its broadcast:\n$p2l")
    assert(!p2l.contains("CartesianProduct"), "q_semdedup_2l went cartesian")
    // midband slice: the tiled mine is an equi-join on block keys — the
    // quadratic work is data-parallel, never a driver-side cartesian
    val pms = plan("q_midband_slice")
    assert(!pms.contains("CartesianProduct"), "q_midband_slice went cartesian")
    // soft-EM: map-side kernel + one piece-keyed partial rollup; the
    // corpus-level n_vocab row rides a 1-row broadcast, not a shuffle
    val pse = plan("q_unigram_soft_em")
    assert(pse.contains("HashAggregate"), "soft-EM lost partial aggregation")
    assert(!pse.contains("CartesianProduct"), "q_unigram_soft_em went cartesian")
    assert(pse.contains("BroadcastNestedLoopJoin") || pse.contains("BroadcastHashJoin"),
      s"corpus-level stats must broadcast:\n$pse")
  }

  test("IVF multi-probe search: broadcast probe join, heap top-k, recall recovery") {
    // the probe relation (≤ 2·|batch| rows) must BROADCAST onto the
    // cell-assigned corpus — the corpus is scanned once and never
    // shuffled for candidate generation; per-query top-20 rides the
    // bounded-heap TopKPerKey, and the only nested-loop join is the
    // |batch|-row exact-certificate crossJoin (broadcast, by design)
    val df = SparkEntry.queries("q_ivf_topk_mp")(spark, Dir)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"probe join lost its broadcast:\n$p")
    assert(p.contains("TopKPerKey ["),
      s"per-query top-k did not plan onto the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), "q_ivf_topk_mp went cartesian")
    // behavior: widening the probe can only help — per query the
    // 2-probe recall bounds the 1-probe recall from above, and the
    // candidate mass grows by exactly the runner-up cell's occupancy
    val perQ = rows.map(r => (r.getAs[Long]("qid"),
      (r.getAs[Long]("n_cand_p1"), r.getAs[Long]("n_cand_p2"),
        r.getAs[Long]("recall_p1_ppm"), r.getAs[Long]("recall_p2_ppm"))))
      .toMap
    assert(perQ.size > 1, "expected a multi-query batch")
    perQ.foreach { case (qid, (c1, c2, r1, r2)) =>
      assert(c2 > c1, s"qid=$qid: runner-up cell added no candidates")
      assert(r2 >= r1, s"qid=$qid: 2-probe recall $r2 below 1-probe $r1")
    }
    // the query vector is its own exact nearest neighbor: with the
    // primary cell always probed, every query must find itself
    val self = rows.filter(r => r.getAs[Long]("qid") == r.getAs[Long]("vec_id"))
    assert(self.length == perQ.size, "a query failed to retrieve itself")
  }

  test("IVF-PQ search: broadcast LUT scan, heap top-k, re-rank recovery") {
    // the candidate scan must be map-side only: the probe relation and
    // every per-subspace ADC table broadcast onto the coded corpus
    // (codes, never vectors); all top-k stages ride the bounded heap;
    // the only nested-loop joins are batch-bounded broadcasts (the
    // 8-row LUT builds and the exact certificate)
    val df = SparkEntry.queries("q_ivfpq_search")(spark, Dir)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"candidate/LUT joins lost their broadcast:\n$p")
    assert(p.contains("TopKPerKey ["),
      s"per-query top-k did not plan onto the bounded heap:\n$p")
    assert(!p.contains("CartesianProduct"), "q_ivfpq_search went cartesian")
    assert(!p.contains("SortMergeJoin"),
      s"a batch-bounded join fell back to a corpus shuffle:\n$p")
    // behavior: the exact re-rank can only improve on the raw ADC
    // ordering (same candidate set, true distances), and the query
    // vector — in the corpus, primary cell always probed, d_exact = 0 —
    // must rank first for itself
    val perQ = rows.map(r => (r.getAs[Long]("qid"),
      (r.getAs[Long]("recall_adc_ppm"), r.getAs[Long]("recall_rr_ppm"))))
      .toMap
    assert(perQ.size > 1, "expected a multi-query batch")
    perQ.foreach { case (qid, (ra, rr)) =>
      assert(rr >= ra, s"qid=$qid: re-ranked recall $rr below raw ADC $ra")
    }
    rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, qr) =>
      val first = qr.minBy(r => (r.getAs[Long]("d_exact"), r.getAs[Long]("vec_id")))
      assert(first.getAs[Long]("vec_id") == qid,
        s"qid=$qid: query did not retrieve itself first")
      assert(first.getAs[Long]("d_exact") == 0L,
        s"qid=$qid: self-distance nonzero")
    }
  }

  test("whole-stage codegen spans the aggregation pipeline") {
    // AQE hides codegen spans until the final plan exists — execute first
    val df = SparkEntry.queries("q1_pricing_summary")(spark, Dir)
    df.collect()
    // codegen spans render as "*(n) Operator" in the final plan string
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), s"no codegen span:\n$p")
  }

  test("q19 disjunction splits: part-side brand filter pushes to the part scan") {
    val df = SparkEntry.queries("q_tpch_q19")(spark, Dir)
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val partScan = scans.find(_.contains("p_brand")).getOrElse(fail("no part scan"))
    // Catalyst must extract the per-side OR from the DNF predicate: the
    // brand/size disjunction belongs to part's scan, not post-join
    assert(partScan.contains("Or") && partScan.contains("Brand#12"),
      s"brand disjunction not pushed to part scan:\n$partScan")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"part not broadcast:\n$p")
  }

  test("bloom decontamination probes map-side BEFORE the confirm join") {
    val p = SparkEntry.queries("q_bloom_decontaminate")(spark, Dir)
      .queryExecution.executedPlan.toString
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0, s"confirm join missing or not broadcast:\n$p")
    // the native probe must appear BELOW the join (later in the plan
    // string), i.e. on the scan side — filtering before any join
    // machinery — and there must be no UDF left in the plan
    val probeIdx = p.indexOf("graft_bloom_might_contain")
    assert(probeIdx > joinIdx, s"bloom probe not below the confirm join:\n$p")
    assert(!p.contains("UDF"), s"UDF survived the native probe swap:\n$p")
  }

  test("pii redaction / quality filter are single-pass map plans") {
    for (q <- Seq("q_pii_redact", "q_gopher_filter")) {
      val p = SparkEntry.queries(q)(spark, Dir).queryExecution.executedPlan.toString
      // the only exchange permitted is the final presentation sort's range
      // partitioning — no aggregation/join shuffle anywhere
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q shuffles where a map-only plan should run:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
        s"$q grew a join:\n$p")
    }
  }

  test("chunking reads only (doc_id, text) from documents") {
    // an earlier suite may have cached the full documents table — the
    // audit is about the PARQUET scan, so drop caches first
    spark.catalog.clearCache()
    val scans = SparkEntry.queries("q_chunk_dedup")(spark, Dir)
      .queryExecution.executedPlan.collectLeaves().map(_.toString)
    val scan = scans.find(_.contains("ReadSchema")).getOrElse(fail("no scan"))
    assert(scan.contains("doc_id") && scan.contains("text"))
    Seq("lang", "source", "n_chars").foreach(c =>
      assert(!scan.contains(c), s"unpruned column $c in chunking scan"))
  }

  test("mining additions: pagerank/assoc/pareto/collocation plan shapes") {
    // pagerank: the only nested-loop join is the documented 1-row
    // dangling-mass broadcast — a CartesianProduct anywhere means a
    // rank-relation join lost its equi-key
    val pp = plan("q_pagerank")
    assert(!pp.contains("CartesianProduct"), s"q_pagerank went cartesian:\n$pp")
    // iterations run from checkpointed generations, not raw lineage
    assert(pp.contains("Scan ExistingRDD") || pp.contains("LocalTableScan"),
      s"q_pagerank lost its generation checkpoint:\n$pp")
    // association rules: the basket self-join must co-partition on the
    // orderkey (SMJ/shuffled hash), never broadcast the fact table side
    // of itself, and the item-count joins must broadcast
    val pa = plan("q_assoc_rules")
    assert(!pa.contains("CartesianProduct"), s"q_assoc_rules went cartesian:\n$pa")
    assert(pa.contains("BroadcastHashJoin"),
      s"q_assoc_rules item counts stopped broadcasting:\n$pa")
    // pareto: the frontier verdict joins back by BROADCAST (it is
    // distinct-price-sized, not corpus-sized)
    val pf = plan("q_pareto")
    assert(pf.contains("BroadcastHashJoin"),
      s"q_pareto frontier stopped broadcasting:\n$pf")
    assert(!pf.contains("SortMergeJoin"),
      s"q_pareto grew a corpus-sized join:\n$pf")
    // collocations: unigram counts broadcast into the bigram relation
    val pc = plan("q_collocations")
    assert(pc.contains("BroadcastHashJoin"),
      s"q_collocations unigram join stopped broadcasting:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"q_collocations went cartesian:\n$pc")
    // jl projection: map-only before the presentation sort — no joins,
    // no aggregation exchange
    val pj = plan("q_jl_project")
    assert(!pj.contains("Exchange hashpartitioning"),
      s"q_jl_project shuffles where a map-only plan should run:\n$pj")
    assert(!pj.contains("Join"), s"q_jl_project grew a join:\n$pj")
  }

  test("round-6 mining/transform additions: broadcasts + domain-sized windows, no cartesian data joins") {
    // quantile normalization: the midrank verdict BROADCASTS back onto
    // the corpus — the corpus itself is never globally sorted (the
    // presentation orderBy is a range exchange, not a window sort)
    val pq = plan("q_quantile_normalize")
    assert(pq.contains("BroadcastHashJoin"),
      s"q_quantile_normalize verdict stopped broadcasting:\n$pq")
    assert(!pq.contains("SortMergeJoin"),
      s"q_quantile_normalize grew a corpus-sized join:\n$pq")
    // mutual information: the contingency table joins its marginals by
    // broadcast; no cartesian beyond the 1-row certificate crossJoins
    val pm = plan("q_mutual_info")
    assert(pm.contains("BroadcastHashJoin"),
      s"q_mutual_info marginals stopped broadcasting:\n$pm")
    assert(!pm.contains("SortMergeJoin"),
      s"q_mutual_info grew a corpus-sized join:\n$pm")
    // centroid similarity: norms broadcast onto the label² dot relation
    val pc = plan("q_centroid_sim")
    assert(pc.contains("BroadcastHashJoin"),
      s"q_centroid_sim norms stopped broadcasting:\n$pc")
    // attribution: both models share ONE window (one Window operator,
    // one user-partitioned exchange), and the rollups are tiny
    val pa = plan("q_attribution")
    assert(pa.contains("Window"), s"q_attribution lost its window:\n$pa")
    assert(!pa.contains("CartesianProduct"), s"q_attribution went cartesian:\n$pa")
    assert(pa.split("Window \\[").length == 2,
      s"q_attribution must compute both touch models in ONE window operator:\n$pa")
    // vocab coverage: the only corpus-sized shuffle is the token rollup;
    // the curve math (window + crossing filter) runs post-aggregate (a
    // 1-row total joined by broadcast-nested-loop is fine; a true
    // cartesian over data-sized relations is not)
    val pv = plan("q_vocab_coverage")
    assert(!pv.contains("CartesianProduct"),
      s"q_vocab_coverage went cartesian:\n$pv")
    assert(!pv.contains("SortMergeJoin"),
      s"q_vocab_coverage grew a corpus-sized join:\n$pv")
  }

  test("stat/survival additions: one-pass moments, grid windows, no corpus joins") {
    // corr matrix: ALL moments in ONE aggregate — no join of any kind,
    // no second scan of lineitem
    val pc = plan("q_corr_matrix")
    assert(!pc.contains("Join"), s"q_corr_matrix grew a join:\n$pc")
    assert(pc.split("FileScan parquet").length == 2,
      s"q_corr_matrix must scan lineitem exactly once:\n$pc")
    // target encoding: the customer dim broadcasts; the window runs on
    // the (segments x folds) grid, so no corpus-sized sort appears above
    // the aggregate
    val pt = plan("q_target_encode")
    assert(pt.contains("BroadcastHashJoin"),
      s"q_target_encode customer dim stopped broadcasting:\n$pt")
    assert(!pt.contains("SortMergeJoin"),
      s"q_target_encode grew a corpus-sized join:\n$pt")
    // survival: the only corpus-sized shuffles key on user_id (the
    // per-user reduction); day-level math must not join back to events,
    // and the events scan must appear exactly twice (the u and p sides
    // of one pass) — a third scan means a subtree got duplicated
    val ps = plan("q_survival")
    assert(!ps.contains("CartesianProduct"),
      s"q_survival has a data-sized cartesian:\n$ps")
    assert(ps.contains("hashpartitioning(user_id"),
      s"q_survival lost its per-user reduction:\n$ps")
    assert(ps.split("FileScan parquet").length == 3,
      s"q_survival must scan events exactly twice (u + p), not more:\n$ps")
    // conversion latency: per-user reductions feed a 1-row aggregate;
    // no corpus-sized window anywhere
    val pl = plan("q_conversion_latency")
    assert(!pl.contains("Window"), s"q_conversion_latency grew a window:\n$pl")
    assert(!pl.contains("CartesianProduct"))
    // A/B readout: one user-keyed reduction, then 1-row arithmetic —
    // no join, no window
    val pab = plan("q_ab_test")
    assert(!pab.contains("Join"), s"q_ab_test grew a join:\n$pab")
    assert(!pab.contains("Window"), s"q_ab_test grew a window:\n$pab")
    // weighted median: the window runs over the DISTINCT (flag, value)
    // rollup (HashAggregate below the Sort), never the raw corpus, and
    // the per-flag totals broadcast
    val pw = plan("q_weighted_median")
    assert(pw.contains("BroadcastHashJoin"),
      s"q_weighted_median totals stopped broadcasting:\n$pw")
    assert(!pw.contains("SortMergeJoin"),
      s"q_weighted_median grew a corpus-sized join:\n$pw")
  }

  test("commerce/ops additions: broadcasts, single scans, no corpus sorts") {
    // multivariate OLS: one aggregate pass, no joins at all
    val po = plan("q_multi_ols")
    assert(!po.contains("Join"), s"q_multi_ols grew a join:\n$po")
    assert(po.split("FileScan parquet").length == 2,
      s"q_multi_ols must scan lineitem exactly once:\n$po")
    // co-purchase: the basket self-join keys on the ORDER (bounded
    // per-order fan-out); item supports broadcast
    val pc = plan("q_copurchase")
    assert(pc.contains("BroadcastHashJoin"),
      s"q_copurchase supports stopped broadcasting:\n$pc")
    assert(!pc.contains("CartesianProduct"))
    // CDC apply: one user-keyed window, no join
    val pd = plan("q_cdc_apply")
    assert(!pd.contains("Join"), s"q_cdc_apply grew a join:\n$pd")
    assert(pd.contains("hashpartitioning(user_id"),
      s"q_cdc_apply lost its per-user window:\n$pd")
    // price index: the base-year relation broadcasts onto the
    // (year, part) rollup — no fact-fact SMJ
    val pp = plan("q_price_index")
    assert(pp.contains("BroadcastHashJoin"),
      s"q_price_index base year stopped broadcasting:\n$pp")
    assert(!pp.contains("SortMergeJoin"),
      s"q_price_index grew a corpus-sized join:\n$pp")
    // RFM: quantile bounds and the anchor are 1-row broadcasts; the
    // customer relation is never globally sorted (no ntile window)
    val pr = plan("q_rfm")
    assert(!pr.contains("Window"), s"q_rfm grew a window (global ntile?):\n$pr")
    assert(!pr.contains("CartesianProduct"), s"q_rfm went cartesian:\n$pr")
    // cohort LTV: sizes broadcast; cumulative window over the cohort
    // matrix only (partitioned by cohort_week, not user)
    val pl = plan("q_cohort_ltv")
    assert(pl.contains("BroadcastHashJoin"),
      s"q_cohort_ltv sizes stopped broadcasting:\n$pl")
  }

  test("round-7 additions: map-side kmeans argmin, capped gram blocking, domain windows") {
    // KMeans final assignment: the k-candidate argmin folds MAP-SIDE in
    // a higher-order aggregate — no Generate (explode) of candidates,
    // no join; one scan of the cached quantized relation per round
    val pk = plan("q_kmeans")
    assert(!pk.contains("Generate"),
      s"q_kmeans assignment exploded its candidates:\n$pk")
    assert(!pk.contains("Join"), s"q_kmeans grew a join:\n$pk")
    // source KL: corpus token counts join on token; source totals and
    // the 1-row corpus total broadcast
    val ps = plan("q_source_kl")
    assert(ps.contains("BroadcastHashJoin"),
      s"q_source_kl totals stopped broadcasting:\n$ps")
    assert(!ps.contains("CartesianProduct") ||
      ps.contains("BroadcastNestedLoopJoin"),
      s"q_source_kl went cartesian on a data relation:\n$ps")
    // fuzzy q-gram: the self-join keys on the gram with an explicit
    // repartition (explosive-output join must not coalesce to one task)
    val pf = plan("q_fuzzy_qgram")
    assert(pf.contains("hashpartitioning(blk"),
      s"q_fuzzy_qgram lost its explicit gram repartition:\n$pf")
    assert(!pf.contains("CartesianProduct"))
    // funnel path lengths: one user-keyed shuffle; the cumulative
    // window runs on the domain-sized distribution, never keyed by user
    val pp7 = plan("q_funnel_path_lengths")
    assert(pp7.contains("hashpartitioning(user_id"),
      s"q_funnel_path_lengths lost its user-keyed rollup:\n$pp7")
    // Heaps: token first-bucket is one min-aggregate; no corpus join
    val ph = plan("q_heaps_law")
    assert(!ph.contains("CartesianProduct"), s"q_heaps_law went cartesian:\n$ph")
  }

  test("round-7 planning/pipeline additions: single exchanges, cached single scans, TakeOrdered tops") {
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // bot burst: window and rollup share the user key — exactly ONE
    // exchange; the top-20 is TakeOrdered, never a global sort
    val pb = plan("q_bot_burst")
    assert(exchanges(pb) == 1,
      s"q_bot_burst must have exactly one keyed exchange:\n$pb")
    assert(pb.contains("TakeOrderedAndProject"),
      s"q_bot_burst top-20 is not a TakeOrdered:\n$pb")
    // join-size estimate: KMV sides are bounded-state object aggregates;
    // nothing cartesian on data relations (1-row certificates go BNLJ)
    val pj = plan("q_join_size_estimate")
    assert(pj.contains("ObjectHashAggregate"),
      s"q_join_size_estimate lost its bounded-state sketch aggregate:\n$pj")
    assert(!pj.contains("CartesianProduct"),
      s"q_join_size_estimate went cartesian:\n$pj")
    // filter sweep: the corpus is scanned exactly once — both bucket
    // consumers read the CACHED ≤11-row relation (InMemoryTableScan in
    // the plan; the printed FileScan lineage under InMemoryRelation is
    // the cache's build plan, executed once)
    val pf7 = plan("q_filter_sweep")
    assert(pf7.contains("InMemoryTableScan"),
      s"q_filter_sweep bucket relation is no longer cached — documents would scan twice:\n$pf7")
    // decay score: top-20 is TakeOrdered; the max-day anchor broadcasts
    val pd7 = plan("q_decay_score")
    assert(pd7.contains("TakeOrderedAndProject"),
      s"q_decay_score top-20 is not a TakeOrdered:\n$pd7")
    assert(!pd7.contains("CartesianProduct"),
      s"q_decay_score anchor went cartesian:\n$pd7")
    // window dedup: at most the window-key exchange + the tiny type rollup
    val pw = plan("q_window_dedup")
    assert(exchanges(pw) <= 2,
      s"q_window_dedup grew extra shuffles:\n$pw")
    assert(pw.contains("hashpartitioning(user_id"),
      s"q_window_dedup lost its (user, type) window key:\n$pw")
    // changepoint: the argmax over splits is a TakeOrdered, and the
    // cumulative window runs on the daily aggregate, not on orders
    val pc7 = plan("q_changepoint")
    assert(pc7.contains("TakeOrderedAndProject"),
      s"q_changepoint argmax is not a TakeOrdered:\n$pc7")
    // consistent sample / skew report: no cartesian on data relations
    val ps7 = plan("q_consistent_sample")
    assert(!ps7.contains("CartesianProduct"),
      s"q_consistent_sample went cartesian:\n$ps7")
    val pk7 = plan("q_key_skew_report")
    assert(!pk7.contains("CartesianProduct"),
      s"q_key_skew_report went cartesian:\n$pk7")
  }

  test("round-8 rank/retrieval additions: distinct-value ranks, filtered tf, one-pass moments") {
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // spearman: ranks come from the distinct-value relation — the fact
    // table is never globally sorted (no Exchange rangepartitioning over
    // lineitem; the only single-partition exchanges carry the tiny
    // distinct-value relations into their prefix-sum windows)
    val ps = plan("q_spearman")
    assert(!ps.contains("Exchange rangepartitioning"),
      s"q_spearman must not globally sort the fact table:\n$ps")
    // bm25: the isin(query terms) filter sits under the tf aggregation —
    // it must reach the exploded-token side BEFORE any exchange
    val pb = plan("q_bm25")
    assert(pb.contains("hash, join, stream, window")
      || pb.contains("(hash, join, stream, window)")
      || pb.contains("hash,join,stream,window"),
      s"q_bm25 lost its query-term filter:\n$pb")
    assert(!pb.contains("CartesianProduct"),
      s"q_bm25 data relations went cartesian (stats 1-row broadcast is BNLJ):\n$pb")
    // bootstrap: ONE aggregation pass over the exploded replicates —
    // a single hash-partitioned exchange for the 64-group rollup; the
    // order-statistic window runs on the 64-row relation
    val pc = plan("q_bootstrap_ci")
    assert(exchanges(pc) <= 2,
      s"q_bootstrap_ci grew extra shuffles:\n$pc")
    assert(pc.contains("Generate explode"),
      s"q_bootstrap_ci replicate fan-out is not a codegen explode:\n$pc")
    // anova: one map-side-combined aggregate, no shuffle keyed on the
    // group column at all (groups are conditional columns)
    val pa = plan("q_anova")
    assert(!pa.contains("hashpartitioning(event_type"),
      s"q_anova must not shuffle by event_type (conditional sums):\n$pa")
    // dp counts / variant extract: single keyed rollup each, no cartesian
    Seq("q_dp_counts", "q_variant_extract").foreach { q =>
      val p = plan(q)
      assert(exchanges(p) == 1, s"$q must have exactly one keyed exchange:\n$p")
    }
    // adamic-adar: top-10 via TakeOrdered; no cartesian wedge explosion
    val pd = plan("q_adamic_adar")
    assert(pd.contains("TakeOrderedAndProject"),
      s"q_adamic_adar top-10 is not a TakeOrdered:\n$pd")
    assert(!pd.contains("CartesianProduct"),
      s"q_adamic_adar went cartesian:\n$pd")
    // cdc chunking: the boundary window partitions by doc_id, never global
    val pw8 = plan("q_cdc_chunks")
    assert(pw8.contains("windowspecdefinition(doc_id"),
      s"q_cdc_chunks boundary window must partition by doc_id (never global):\n$pw8")
    assert(pw8.contains("hashpartitioning(doc_id"),
      s"q_cdc_chunks boundary window lost its doc-keyed exchange:\n$pw8")
  }

  test("round-8 wave 2: join-free skyline, map-side kernels, margin windows") {
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // skyline: zero joins — one sort, two range-framed windows
    val ps = plan("q_skyline")
    assert(!ps.contains("Join"), s"q_skyline must be join-free:\n$ps")
    assert(ps.contains("specifiedwindowframe(RangeFrame"),
      s"q_skyline lost its RANGE frames:\n$ps")
    // jw linkage: equi-joins only (key and key+1), codegen'd kernel calls
    val pj = plan("q_jw_match")
    assert(!pj.contains("CartesianProduct") && !pj.contains("BroadcastNestedLoop"),
      s"q_jw_match pairs must come from equi-joins:\n$pj")
    // string metrics: single signature rollup, no joins at all
    val pm = plan("q_string_metrics")
    assert(!pm.contains("Join"), s"q_string_metrics must be join-free:\n$pm")
    assert(exchanges(pm) == 1,
      s"q_string_metrics must have exactly the signature-rollup exchange:\n$pm")
    // huber: 1-row IRLS state broadcasts into each round (BNLJ on the
    // 1-row side is the cheap correct shape); the event scan is cached
    val ph = plan("q_huber_mean")
    assert(ph.contains("InMemoryTableScan"),
      s"q_huber_mean must iterate over the CACHED purchase relation:\n$ph")
    // raking: every IPF window partitions by a margin key — no global
    // (empty-partition) window anywhere
    val pr = plan("q_raking")
    assert(pr.contains("windowspecdefinition(seg") &&
      pr.contains("windowspecdefinition(reg"),
      s"q_raking must window by both margin keys:\n$pr")
    assert(!pr.contains("windowspecdefinition(,"),
      s"q_raking must not contain a global window:\n$pr")
    // corpus card / rrf: no cartesian on data relations
    Seq("q_corpus_card", "q_rrf_fusion", "q_modularity").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
    }
  }

  test("round-8 wave 3: panel-sized windows, broadcast models, per-series folds") {
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // bh_fdr: the BH step-up windows run over the 125-cell PANEL — the
    // only hash exchange is the cell rollup (global moments ride a 1-row
    // broadcast BNLJ)
    val pf = plan("q_bh_fdr")
    assert(exchanges(pf) == 1,
      s"q_bh_fdr must shuffle only the cell rollup:\n$pf")
    assert(!pf.contains("CartesianProduct"), s"q_bh_fdr went cartesian:\n$pf")
    // conformal: per-priority model and qhat both BROADCAST into the
    // scored fact relation; the order-statistic window partitions by
    // priority, never globally
    val pc = plan("q_conformal")
    assert(pc.contains("BroadcastHashJoin"),
      s"q_conformal model join lost its broadcast:\n$pc")
    assert(pc.contains("windowspecdefinition(o_orderpriority"),
      s"q_conformal qhat window must partition by priority:\n$pc")
    // sprt: the LLR walk is a bucket-partitioned running sum — the
    // exact shape it keeps on a 1000-executor cluster
    val ps = plan("q_sprt")
    assert(ps.contains("windowspecdefinition(bucket"),
      s"q_sprt walk must partition by bucket:\n$ps")
    // isotonic: the PAVA minimax argmin/argmax run over the (k,i)
    // candidate panel — and the rn=1 filters rewrite to the native
    // TopKPerKey operator (no full window materialization)
    val pi = plan("q_isotonic")
    assert(pi.contains("TopKPerKey [k"),
      s"q_isotonic minimax picks must run as TopKPerKey over k:\n$pi")
    // kneser-ney: the 5-context filter broadcasts into the bigram
    // relation before the continuation join
    val pk = plan("q_kneser_ney")
    assert(pk.contains("BroadcastHashJoin"),
      s"q_kneser_ney context restriction lost its broadcast:\n$pk")
    assert(!pk.contains("CartesianProduct"), s"q_kneser_ney went cartesian:\n$pk")
    // fellegi-sunter: candidate pairs come from the blk equi-join (the
    // 16-pattern lattice + 1-row weights may ride broadcasts)
    val pfs = plan("q_fellegi_sunter")
    assert(!pfs.contains("CartesianProduct"),
      s"q_fellegi_sunter pair generation went cartesian:\n$pfs")
    // dsir: the token relation is CACHED (feeds the bucket rollup, the
    // totals and the per-doc weights)
    val pd = plan("q_dsir")
    assert(pd.contains("InMemoryTableScan"),
      s"q_dsir must reuse the cached token relation:\n$pd")
    // compaction plan: the packer window partitions by source — one
    // planner task per table partition, no global sort
    val pp = plan("q_compaction_plan")
    assert(pp.contains("windowspecdefinition(source"),
      s"q_compaction_plan must window per source:\n$pp")
    assert(!pp.contains("windowspecdefinition(,"),
      s"q_compaction_plan must not contain a global window:\n$pp")
    // holt-winters: series fold is a per-type object aggregate — no
    // global range sort anywhere (sort_array orders within each row)
    val ph = plan("q_holt_winters")
    assert(ph.contains("ObjectHashAggregate"),
      s"q_holt_winters series assembly must be an object aggregate:\n$ph")
    // the only range sort is the final 120-row ordered output ABOVE the
    // fold — nothing below the series aggregate may globally sort
    val belowFold = ph.substring(ph.indexOf("ObjectHashAggregate"))
    assert(!belowFold.contains("rangepartitioning"),
      s"q_holt_winters must not globally sort under the series fold:\n$ph")
    // kendall: C/D come from the bounded contingency-grid self-join —
    // both join inputs are aggregates, never raw lineitem
    val pt = plan("q_kendall_tau")
    assert(!pt.contains("CartesianProduct"),
      s"q_kendall_tau grid pairing must stay a (bounded) broadcast:\n$pt")
    // permutation test: replicate fan-out is a codegen explode over the
    // user rollup; only the user and replicate rollups shuffle
    val pm = plan("q_permutation_test")
    assert(pm.contains("Generate explode"),
      s"q_permutation_test fan-out is not a codegen explode:\n$pm")
    assert(exchanges(pm) <= 3,
      s"q_permutation_test grew extra shuffles:\n$pm")
  }

  test("round-8 waves 4-5: user-keyed rollups, broadcast dims, panel-only windows") {
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // ipw: the first-event window and the rollup share ONE user-keyed
    // exchange; the stratum panel is 8 rows
    val pi = plan("q_ipw_ate")
    assert(pi.contains("windowspecdefinition(user_id"),
      s"q_ipw_ate first-event window must partition by user:\n$pi")
    assert(!pi.contains("CartesianProduct"), s"q_ipw_ate went cartesian:\n$pi")
    // brier: two 24-row rollups, no window at all
    val pb = plan("q_brier_decomp")
    assert(!pb.contains("windowspecdefinition"),
      s"q_brier_decomp needs no window:\n$pb")
    // golden record: survivorship modes window the entity panel, never
    // the customer table
    val pg = plan("q_golden_record")
    assert(pg.contains("windowspecdefinition(entity") ||
      pg.contains("TopKPerKey [entity"),
      s"q_golden_record mode pick must key by entity:\n$pg")
    // k-anonymity / char entropy: keyed rollups only, no cartesian,
    // per-doc window for entropy (never global)
    val pk = plan("q_k_anonymity")
    assert(!pk.contains("Join"), s"q_k_anonymity must be join-free:\n$pk")
    val pe = plan("q_char_entropy")
    assert(pe.contains("windowspecdefinition(doc_id"),
      s"q_char_entropy totals window must partition by doc:\n$pe")
    assert(!pe.contains("windowspecdefinition(,"),
      s"q_char_entropy must not contain a global window:\n$pe")
    // simpsons: supplier dim broadcasts into the fact scan; the moment
    // rollup is the only fact-sized shuffle
    val psm = plan("q_simpsons")
    assert(psm.contains("BroadcastHashJoin"),
      s"q_simpsons supplier join lost its broadcast:\n$psm")
    assert(!psm.contains("CartesianProduct"), s"q_simpsons went cartesian:\n$psm")
    // isotonic (rebucketed): NOTHING below the distinct-value rollup may
    // sort or exchange the fact table by range
    val pis = plan("q_isotonic")
    assert(!pis.contains("Exchange rangepartitioning(value"),
      s"q_isotonic must not range-sort the fact table:\n$pis")
  }

  test("round-8 waves 6-7: moment rollups, TakeOrdered tops, broadcast priors") {
    def exchanges(p: String): Int =
      "Exchange hashpartitioning".r.findAllIn(p).length
    // cuped: one user rollup feeds both the pooled moments and the arm
    // panel; the 1-row moment relation broadcasts
    val pc = plan("q_cuped")
    assert(exchanges(pc) <= 3, s"q_cuped grew extra shuffles:\n$pc")
    assert(!pc.contains("CartesianProduct"), s"q_cuped went cartesian:\n$pc")
    // seasonality: two keyed rollups, join on the 5-type panel
    val ps = plan("q_seasonality_strength")
    assert(!ps.contains("windowspecdefinition"),
      s"q_seasonality_strength needs no window:\n$ps")
    // assortativity / item recs: within-order pair self-join only (an
    // equi-join on the order key), no cartesian
    Seq("q_assortativity", "q_item_recs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q went cartesian:\n$p")
    }
    // item recs: the 20-anchor restriction broadcasts into the pair
    // relation before the partner-count join
    assert(plan("q_item_recs").contains("BroadcastHashJoin"),
      "q_item_recs anchor restriction lost its broadcast")
    // eb shrinkage: top movers via TakeOrdered, prior is a 1-row
    // broadcast
    val pe = plan("q_eb_shrinkage")
    assert(pe.contains("TakeOrderedAndProject"),
      s"q_eb_shrinkage top-15 is not a TakeOrdered:\n$pe")
    // power mde: the n grid is a constant-array explode in codegen
    val pp = plan("q_power_mde")
    assert(pp.contains("Generate explode"),
      s"q_power_mde grid is not a codegen explode:\n$pp")
    // distinctive terms: token rollup is the only vocab-sized shuffle;
    // both top-10 sides are TakeOrdered
    val pd = plan("q_distinctive_terms")
    assert(pd.contains("TakeOrderedAndProject"),
      s"q_distinctive_terms sides are not TakeOrdered:\n$pd")
    assert(!pd.contains("CartesianProduct"),
      s"q_distinctive_terms went cartesian:\n$pd")
  }

  test("round-8 waves 8-10: map-side text scores, bounded graphs, island windows") {
    // readability: pure map-side scoring into a |sources| rollup — a
    // single hash-partition exchange, no join at all
    val pr = plan("q_readability")
    assert("Exchange hashpartitioning".r.findAllIn(pr).length <= 1,
      s"q_readability should shuffle once (the source rollup):\n$pr")
    assert(!pr.contains("Join"), s"q_readability needs no join:\n$pr")
    // rake: phrase/word rollups + one token-keyed join; top-15 is a
    // TakeOrdered, nothing cartesian
    val pk = plan("q_rake_keywords")
    assert(pk.contains("TakeOrderedAndProject"),
      s"q_rake_keywords top-15 is not a TakeOrdered:\n$pk")
    assert(!pk.contains("CartesianProduct"), s"q_rake_keywords went cartesian:\n$pk")
    // naive bayes: the token->ppm relation and the 1-row totals/priors
    // broadcast; the only fact-sized shuffles are the token rollup and
    // the per-doc score rollup
    val pn = plan("q_naive_bayes")
    assert(pn.contains("BroadcastHashJoin") || pn.contains("BroadcastNestedLoopJoin"),
      s"q_naive_bayes lost its broadcasts:\n$pn")
    // textrank: the co-occurrence graph is vocabulary-bounded, so the
    // top-100 relation broadcasts into the adjacency restriction and the
    // final top-20 is a TakeOrdered
    val pt = plan("q_textrank")
    assert(pt.contains("BroadcastHashJoin"),
      s"q_textrank top-100 restriction lost its broadcast:\n$pt")
    assert(pt.contains("TakeOrderedAndProject"),
      s"q_textrank top-20 is not a TakeOrdered:\n$pt")
    // levene: the 3-row median relation broadcasts into the fact pass;
    // no window, no cartesian on the fact table
    val pl = plan("q_levene")
    assert(pl.contains("BroadcastHashJoin"),
      s"q_levene median join must broadcast:\n$pl")
    assert(!pl.contains("windowspecdefinition"), s"q_levene needs no window:\n$pl")
    // sax: one (type, day) rollup, then |types|x7 work; the daily
    // aggregate is partially aggregated before its exchange
    val px = plan("q_sax")
    assert(px.contains("partial_count") || px.contains("HashAggregate"),
      s"q_sax daily rollup lost partial aggregation:\n$px")
    // dau/wau: the window-end fanout is a constant-array explode that
    // stays in codegen; no per-day rescan joins
    val pw = plan("q_dau_wau")
    assert(pw.contains("Generate explode"),
      s"q_dau_wau fanout is not a codegen explode:\n$pw")
    assert(!pw.contains("CartesianProduct"), s"q_dau_wau went cartesian:\n$pw")
    // streaks: per-user window partitions on user_id — no global sort
    // of the fact table
    val pg = plan("q_active_streaks")
    assert(pg.contains("windowspecdefinition"),
      s"q_active_streaks lost its per-user window:\n$pg")
    assert(!pg.contains("Exchange rangepartitioning(di"),
      s"q_active_streaks must not globally range-sort user-days:\n$pg")
    // l-diversity: one (type, hour, class) rollup; everything after is
    // cells-sized
    val pv = plan("q_l_diversity")
    assert(!pv.contains("CartesianProduct"), s"q_l_diversity went cartesian:\n$pv")
  }

  test("round-8 final wave + span dedup: broadcasts and bounded shuffles") {
    for (q <- Seq("q_nmf_topics", "q_hmm_regimes", "q_decision_stump",
        "q_feature_hash", "q_span_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    // NMF: since r15 the 50x20-grid MM rounds take the driver gate
    // (nmfTopicsFrame; DriverLoopGateSpec pins the two paths equal), so
    // the submitted plan is the local result relation — assert exactly
    // that, and that no corpus-sized join ever appears. The distributed
    // loop (gate 0) keeps its own coverage in DriverLoopGateSpec.
    val pn = plan("q_nmf_topics")
    assert(pn.contains("LocalTableScan"),
      s"q_nmf_topics no longer rides the driver-gated MM loop:\n$pn")
    assert(!pn.contains("SortMergeJoin"),
      s"q_nmf_topics grew a non-broadcast join in the update loop:\n$pn")
    // HMM: one (type, day) rollup + the per-type 28-element fold; the
    // 1-row min-date relation rides a BroadcastNestedLoopJoin and the
    // day-grid join back broadcasts — at most the rollup + fold
    // exchanges, never a corpus-sized sort
    val ph = plan("q_hmm_regimes")
    assert(ph.contains("BroadcastNestedLoopJoin"),
      s"q_hmm_regimes lost the 1-row min-date broadcast:\n$ph")
    assert("Exchange hashpartitioning".r.findAllIn(ph).length <= 3,
      s"q_hmm_regimes shuffles more than rollup + fold:\n$ph")
    // decision stump: threshold candidates come from the distinct-value
    // relation (broadcast side), the fact table is scanned, rolled up,
    // and never pair-expanded
    val pd = plan("q_decision_stump")
    assert(pd.contains("BroadcastHashJoin"),
      s"q_decision_stump lost the candidate broadcast:\n$pd")
    assert("Exchange hashpartitioning".r.findAllIn(pd).length <= 4,
      s"q_decision_stump shuffles more than its rollups:\n$pd")
    // span dedup: corpus relations only ever equi-join on the window
    // hash against the PER-HASH AGGREGATE (one row per hash), so no
    // hot 5-gram can pair-expand; removed positions shuffle per doc for
    // the islands window — shingle rollup + join-back + islands +
    // final join, nothing more
    val ps = plan("q_span_dedup")
    assert(ps.contains("windowspecdefinition"),
      s"q_span_dedup lost the gaps-and-islands window:\n$ps")
    assert("Exchange hashpartitioning".r.findAllIn(ps).length <= 5,
      s"q_span_dedup shuffles beyond rollup/join-back/islands:\n$ps")
    // variable-length span census (seed-gated sweep): the corpus stream
    // only ever equi-joins one-row-per-hash AGGREGATES (blocked, no pair
    // expansion), and the maximality pass is one per-doc window; every
    // exchange is a keyed rollup or join-back — never a cartesian
    val pv = plan("q_span_dedup_var")
    assert(pv.contains("windowspecdefinition"),
      s"q_span_dedup_var lost the maximality lag window:\n$pv")
    assert(!pv.contains("CartesianProduct") &&
      !pv.contains("BroadcastNestedLoopJoin"),
      s"q_span_dedup_var grew a pair expansion:\n$pv")
    // measured 11, every one keyed: seed (sh,doc) distinct + (sh) df +
    // seed⋈hot join-back + per-doc hot-starts collect + toks⋈hots +
    // probe (len,h,doc) distinct + (len,h) df + probe join-back +
    // (doc,start) max + doc window + final doc rollup
    assert("Exchange hashpartitioning".r.findAllIn(pv).length <= 11,
      s"q_span_dedup_var shuffles beyond its keyed rollups:\n$pv")
  }

  test("round-9 analytics wave: no cartesians, shuffles bounded by rollups") {
    // the 19 queries of the stats/causal/graph/embedding wave: every one
    // is a one-(or-few)-rollup + bounded-panel shape; a cartesian or an
    // unexpected extra corpus shuffle here is a 100 TB regression
    val wave = Seq("q_kmv_intersect", "q_doubly_robust", "q_ips_policy",
      "q_precedence_matrix", "q_entropy_rate", "q_closeness",
      "q_stl_decompose", "q_burstiness", "q_hill_tail", "q_xcorr",
      "q_forget_users", "q_logrank", "q_bradley_terry", "q_cohens_kappa",
      "q_pr_curve", "q_conductance", "q_mahalanobis_outliers",
      "q_wasserstein_1d", "q_cramers_v")
    val plans = wave.map(q => q -> plan(q)).toMap
    for ((q, p) <- plans)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    def exchanges(q: String): Int =
      "Exchange hashpartitioning".r.findAllIn(plans(q)).length
    // pure-rollup queries: the corpus contributes exactly its aggregation
    // shuffles, nothing else (kappa and hill_tail fold on a bounded panel
    // after a partial_agg that needs no exchange at all)
    assert(exchanges("q_cohens_kappa") == 0,
      s"q_cohens_kappa grew a shuffle:\n${plans("q_cohens_kappa")}")
    assert(exchanges("q_hill_tail") == 0,
      s"q_hill_tail grew a shuffle:\n${plans("q_hill_tail")}")
    assert(exchanges("q_burstiness") <= 2, "q_burstiness beyond (type,hour) rollup")
    assert(exchanges("q_stl_decompose") <= 2, "q_stl_decompose beyond (type,day) rollup")
    assert(exchanges("q_pr_curve") <= 2, "q_pr_curve sweeps more than the (pos,score) panel")
    assert(exchanges("q_wasserstein_1d") <= 2, "q_wasserstein_1d beyond per-group rollup")
    assert(exchanges("q_mahalanobis_outliers") <= 2, "q_mahalanobis beyond stats rollup")
    assert(exchanges("q_xcorr") <= 3, "q_xcorr beyond (type,hour) rollup + lag align")
    assert(exchanges("q_logrank") <= 3, "q_logrank beyond per-day risk-set rollup")
    assert(exchanges("q_precedence_matrix") <= 3, "q_precedence beyond pair rollup")
    // erasure cascade: keyed BROADCAST anti/semi joins only — a
    // SortMergeJoin means the tombstone set stopped broadcasting
    assert(plans("q_forget_users").contains("BroadcastHashJoin") &&
      !plans("q_forget_users").contains("SortMergeJoin"),
      s"q_forget_users lost its broadcast anti-joins:\n${plans("q_forget_users")}")
    // bradley-terry: the MM loop is gone from the final plan entirely —
    // r9 cut it with per-round localCheckpoint (the 97 s regression was
    // lineage NOT being truncated); since r15 the panel rounds take the
    // driver gate (bradleyTerryFrame — DriverLoopGateSpec pins the two
    // paths equal), so the submitted plan is the ranked local relation
    val pbt = plans("q_bradley_terry")
    assert(pbt.contains("LocalTableScan"),
      s"q_bradley_terry no longer rides the driver-gated MM loop:\n$pbt")
    assert(!pbt.contains("SortMergeJoin"),
      s"q_bradley_terry grew a corpus-sized join:\n$pbt")
    // kmv / doubly-robust / ips / conductance / closeness / entropy-rate /
    // cramers-v: multi-stage but every stage is panel-sized after the
    // first rollup; bound total shuffle count loosely (cached-relation
    // plan text inflates the census) but catch order-of-magnitude growth
    assert(exchanges("q_cramers_v") <= 10, "q_cramers_v shuffle growth")
    assert(exchanges("q_kmv_intersect") <= 13, "q_kmv_intersect shuffle growth")
    assert(exchanges("q_doubly_robust") <= 13, "q_doubly_robust shuffle growth")
    assert(exchanges("q_ips_policy") <= 14, "q_ips_policy shuffle growth")
    // r15: kn is now cached (the 4-way trade join ran twice before) and
    // the LPA rounds take the driver gate — fewer EXECUTED shuffles, but
    // the InMemoryRelation plan text embeds the kn subtree at every
    // reader, inflating this text census from 14 to 20
    assert(exchanges("q_conductance") <= 20, "q_conductance shuffle growth")
    assert(exchanges("q_entropy_rate") <= 17, "q_entropy_rate shuffle growth")
    assert(exchanges("q_closeness") <= 25, "q_closeness shuffle growth")
  }

  test("round-10 additions: narrow LSH candidate join, star-contraction CC") {
    // embed-dup pairs: the bucket self-join must flow NARROW (id, bucket)
    // rows — the 64-double vectors re-attach by id only at the verify.
    // A regression that joins the vectors through the candidate join
    // reads as `vec` appearing in the bucket-join condition side output;
    // assert the shape indirectly: no cartesian, and the plan carries the
    // two id-keyed re-attach joins after the bucket join (3+ joins total)
    val pe = plan("q_embed_dup_pairs")
    assert(!pe.contains("CartesianProduct") &&
      !pe.contains("BroadcastNestedLoopJoin"),
      s"q_embed_dup_pairs grew a pair expansion:\n$pe")
    assert("Join|join".r.findAllIn(pe).nonEmpty && pe.contains("graft_dot"),
      s"q_embed_dup_pairs lost the fused dot verify:\n$pe")
    // multi-table variant: same narrow-join contract, union of 2 tables
    val pm = plan("q_embed_dup_tables")
    assert(!pm.contains("CartesianProduct") &&
      !pm.contains("BroadcastNestedLoopJoin"),
      s"q_embed_dup_tables grew a pair expansion:\n$pm")
    assert(pm.contains("graft_dot"),
      s"q_embed_dup_tables lost the fused dot verify:\n$pm")
    // star-contraction CC: the converged star forest is read off
    // materialized localCheckpoints — the final plan must be keyed
    // rollups only (no cartesian, no single-partition window). A bound
    // of 0 forces the star rounds; under the default bound this graph
    // closes on the driver and the plan would show only local rows
    val pcc = graft.operators.DriverLoop.withMaxRows(0L)(plan("q_cc_bigstar"))
    assert(!pcc.contains("CartesianProduct") &&
      !pcc.contains("BroadcastNestedLoopJoin"),
      s"q_cc_bigstar grew a pair expansion:\n$pcc")
    assert(!pcc.contains("windowspecdefinition()"),
      s"q_cc_bigstar grew a global window:\n$pcc")
  }

  test("round-11 additions: hr tables stay narrow, recall slice bounds its brute force") {
    // q_embed_dup_hr: L plane tables, same narrow-candidate contract as
    // the 2-table variant — bucket join flows (id, tbl, bucket) only,
    // vectors re-attach by id at the one shared verify; never cartesian
    val ph = plan("q_embed_dup_hr")
    assert(!ph.contains("CartesianProduct"),
      s"q_embed_dup_hr grew a pair expansion:\n$ph")
    // exactly ONE nested-loop join is allowed: the 1-row planted-recall
    // aggregate broadcast back over the pair rows (withRecall pattern);
    // a second one would be a real pair expansion
    assert("BroadcastNestedLoopJoin".r.findAllIn(ph).size <= 1,
      s"q_embed_dup_hr grew a pair expansion beyond the recall attach:\n$ph")
    assert(ph.contains("recall_planted_ppm"),
      s"q_embed_dup_hr lost the self-certifying recall column:\n$ph")
    assert(ph.contains("graft_dot"),
      s"q_embed_dup_hr lost the fused dot verify:\n$ph")
    // q_lsh_recall: the ONLY non-equi join allowed is the slice brute
    // force (id_a < id_b over the ~1200-doc cell sample — bounded by
    // construction, it IS the ground truth); the corpus-sized side must
    // stay a map pass (bucket exprs + the cell filter), contributing no
    // join of its own. The fused kernels must survive into the plan.
    val pr = plan("q_lsh_recall")
    assert(pr.contains("graft_lsh_bucket") && pr.contains("graft_dot"),
      s"q_lsh_recall lost the fused bucket/dot kernels:\n$pr")
    assert(!pr.contains("CartesianProduct"),
      s"q_lsh_recall's brute force must keep its id_a < id_b condition:\n$pr")
    // q_blocking_recall: the hot-shingle set joins BROADCAST (it is ≤
    // occurrences/maxDf keys by construction — never a shuffled join
    // against the slice explode), the shared-shingle ground-truth join
    // is equi on the shingle hash (no cartesian), and the shingle
    // kernel survives into the scan side
    val pb = plan("q_blocking_recall")
    assert(pb.contains("BroadcastHashJoin"),
      s"q_blocking_recall lost the hot-set broadcast:\n$pb")
    assert(!pb.contains("CartesianProduct") &&
      !pb.contains("BroadcastNestedLoopJoin"),
      s"q_blocking_recall grew a pair expansion:\n$pb")
    assert(pb.contains("graft_shingle_hashes"),
      s"q_blocking_recall lost the fused shingle kernel:\n$pb")
    // q_dbscan: the neighbor join is EQUI on the grid cell (the whole
    // point of the blocking) — never a cartesian / nested-loop distance
    // join; the distance check rides the join as a post-condition
    val pd = plan("q_dbscan")
    assert(!pd.contains("CartesianProduct") &&
      !pd.contains("BroadcastNestedLoopJoin"),
      s"q_dbscan lost its grid blocking (all-pairs distance join):\n$pd")
  }

  test("q_semdedup: cluster-keyed equi pair join, norms computed below the join") {
    val p = plan("q_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"q_semdedup's pair search must stay cluster-blocked:\n$p")
    // the self-join must be EQUI on the cluster id (cl_a = cl_b) with the
    // id inequality riding as a post-condition — a nested-loop distance
    // join here is the O(N²) shape the clustering exists to avoid. (The
    // final 1-row recall crossJoin is a broadcast NLJ and is fine.)
    assert(p.contains("cl_a") && p.contains("cl_b"),
      s"q_semdedup lost the cluster-keyed join:\n$p")
    // per-vector squared norms are projected BELOW the join (nsq_a/nsq_b
    // ride the join output) so the pair stream carries ONE fold — the
    // dot product — not recomputed norms per pair
    assert(p.contains("nsq_a") && p.contains("nsq_b"),
      s"q_semdedup recomputes norms per pair:\n$p")
  }
}
