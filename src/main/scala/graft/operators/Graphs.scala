package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over edge-list DataFrames.
  *
  * The flagship here is a FIXED-POINT PageRank: every quantity is a
  * scaled 64-bit integer and every step is integer multiply / integer
  * (truncating) division / integer sum — so the result is bit-identical
  * across engines AND across partitionings (integer addition commutes;
  * float summation order does not). That is what lets a PageRank carry a
  * full DuckDB hash oracle, the same trick the portable-hash dedup
  * family uses ([[Dedup]], `TextHashExprs`).
  *
  * Scale design: one iteration = one equi-join of the rank relation with
  * the (pre-normalized, cached) edge relation + one partial-aggregated
  * groupBy on dst + one broadcast of a 1-row dangling-mass aggregate.
  * Rank state is O(V), edges O(E); both stay fully distributed — the
  * driver never sees a vertex. Iterations are data-independent plans over
  * a cached previous generation, so lineage stays flat (each generation
  * is cached via [[Caches.register]]).
  */
object Graphs {

  /** 1e12 fixed-point scale: total rank mass = [[RankScale]], so a
    * per-vertex rank is exact to 12 decimal digits. */
  val RankScale: Long = 1000000000000L

  /** Per-edge transition shares are parts-per-million of the source's
    * outgoing weight. 1e6 keeps rank*share products under 1e18 < 2^63. */
  val ShareScale: Long = 1000000L

  /** Largest per-source total weight for which `w * ShareScale` cannot
    * overflow: Long.MaxValue / ShareScale. Checked at runtime with a
    * raise_error column so a too-heavy graph fails loudly, not wrongly.
    * At 100 TB pre-aggregate weights (e.g. bucket raw event counts) so
    * per-source totals stay under ~9.2e12. */
  val MaxSafeOutWeight: Long = Long.MaxValue / ShareScale

  /** Weighted PageRank with damping `dampingPct`/100 over `iterations`
    * synchronous rounds, in pure integer arithmetic.
    *
    * Semantics per round (all divisions truncating, all values >= 0):
    * {{{
    *   share_ppm(e)  = w(e) * 1e6 DIV outw(src(e))          // precomputed
    *   contrib(v)    = sum over in-edges e: rank(src(e)) * share_ppm(e) DIV 1e6
    *   dangling      = sum of rank over vertices with no out-edge
    *   rank'(v)      = ((100-d) * (SCALE DIV n)) DIV 100
    *                 + (d * (contrib(v) + dangling DIV n)) DIV 100
    * }}}
    * Truncation leaks a sub-ppm mass per round (documented, deterministic,
    * identical in any engine); ranks are reported both as the raw
    * fixed-point `rank_fp` and as `rank` = rank_fp/1e12 rounded to 6dp.
    *
    * The vertex set is the distinct union of both edge endpoints;
    * multi-edges are pre-summed. `n` (vertex count) is the single driver
    * scalar — one count() on the cached vertex relation.
    *
    * `teleport = Some(seeds)` gives PERSONALIZED PageRank: restart mass
    * and the dangling recycle land uniformly on the seed set instead of
    * on all vertices, so rank measures proximity to the seeds (the
    * related-entity / similar-host primitive). Seed sets are small by
    * design (they ride as an `isin` literal); `n` is replaced by |S| in
    * the base and dangling terms, nothing else changes.
    *
    * Graphs of at most [[DriverLoop.maxRows]] summed edges run the
    * identical integer fixed point in driver arrays:
    * the corpus-sized edge-building joins still execute distributed and
    * collapse to the graph-sized summed relation before the one
    * collect, so the driver never sees a corpus row — only the same
    * graph every iteration would otherwise re-shuffle. A durable
    * `checkpointDir` forces the distributed loop (executor-loss
    * durability is the caller's explicit ask). The distributed rounds
    * run on the session's conf. */
  def pagerank(
      edges: DataFrame, srcCol: String, dstCol: String, weightCol: String,
      iterations: Int, dampingPct: Int = 85,
      checkpointDir: Option[String] = None,
      teleport: Option[Seq[Long]] = None): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct=$dampingPct must be in [0, 100]")
    require(teleport.forall(_.nonEmpty), "teleport set must be non-empty when given")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(weightCol).cast("long").as("w"))
    // the SUMMED edge relation is cached FIRST: it is graph-sized (small
    // next to whatever joins produced `edges`), and shares, out-weights
    // AND the vertex set all derive from it — without this, the vertex
    // union would re-run the caller's edge-building joins once per branch
    val summed = Caches.register(
      e.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    val nEdges = summed.count()
    require(nEdges > 0, "Graphs.pagerank: empty edge list")
    if (checkpointDir.isEmpty && nEdges <= DriverLoop.maxRows)
      return pagerankDriver(edges.sparkSession, summed.collect(),
        iterations, dampingPct, teleport)
    val outw = summed.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // shares cached: they feed every iteration's join. The raise_error
    // guard keeps the overflow bound a runtime contract, not a comment.
    val shares = Caches.register(summed.join(outw, "src")
      .select(col("src"), col("dst"),
        when(col("outw") > MaxSafeOutWeight,
          raise_error(concat(lit(s"Graphs.pagerank: per-source weight exceeds $MaxSafeOutWeight; " +
            "pre-scale edge weights"), col("outw").cast("string"))))
          .otherwise(expr(s"w * $ShareScale DIV outw")).as("share_ppm")))
    val vertices = Caches.register(
      summed.select(col("src").as("id"))
        .union(summed.select(col("dst").as("id"))).distinct())
    val n = vertices.count()
    val srcSet = shares.select(col("src").as("id")).distinct()
    // PERSONALIZED variant: with a teleport set S, the restart mass and
    // the dangling recycle land uniformly on S instead of on all
    // vertices (rank becomes proximity to S). teleport = None is the
    // uniform special case (S = V) — one code path, the `when` guards
    // constant-fold away under a literal-true condition.
    val nT = teleport.map(_.size.toLong).getOrElse(n)
    def isTele = teleport
      .map(ts => col("id").isin(ts.map(Long.box): _*)).getOrElse(lit(true))
    val base = when(isTele,
      lit((100L - dampingPct) * (RankScale / nT) / 100L)).otherwise(lit(0L))

    // each generation is CHECKPOINTED, not merely cached: rank_i reads
    // rank_{i-1} twice (dangling scan + contribution join), so an uncut
    // lineage doubles per round (see DriverLoop.RoundCheckpoints); a
    // durable checkpointDir reclaims superseded generations as the loop
    // advances.
    val spark = edges.sparkSession
    val ckpt = new DriverLoop.RoundCheckpoints(spark, checkpointDir)

    // dangling vertices are a property of the GRAPH, not of a round —
    // detect once on the cached vertex/source relations; a dangling-free
    // graph (every vertex has an out-edge) then skips the per-round
    // dangling aggregate + broadcast entirely (dang is exactly 0)
    val hasDangling =
      vertices.join(srcSet, Seq("id"), "left_anti").limit(1).count() > 0

    var ranks = ckpt(vertices.select(col("id"),
      when(isTele, lit(RankScale / nT)).otherwise(lit(0L)).as("rank_fp")))
    for (_ <- 1 to iterations) {
      val contribs = ranks.join(shares, ranks("id") === shares("src"))
        .groupBy(col("dst").as("id"))
        .agg(sum(expr(s"rank_fp * share_ppm DIV $ShareScale")).as("contrib"))
      val joined = vertices.join(contribs, Seq("id"), "left")
      val withDang =
        if (!hasDangling) joined.withColumn("dang", lit(0L))
        else {
          // 1-row dangling-mass aggregate, broadcast back over all
          // vertices; coalesce covers the empty-sum-is-null case
          val dangling = ranks.join(srcSet, Seq("id"), "left_anti")
            .agg(coalesce(sum(col("rank_fp")), lit(0L)).as("dang"))
          joined.crossJoin(broadcast(dangling))
        }
      ranks = ckpt(withDang
        .withColumn("_in", coalesce(col("contrib"), lit(0L)) +
          when(isTele, expr(s"dang DIV $nT")).otherwise(lit(0L)))
        .select(col("id"),
          (base + expr(s"$dampingPct * _in DIV 100")).as("rank_fp")))
      // keep current + parent
      if (ckpt.generations >= 3) ckpt.delete(ckpt.generations - 3)
    }
    ranks.select(col("id"), col("rank_fp"),
      round(col("rank_fp").cast("double") / RankScale, 6).as("rank"))
  }

  /** Dense 0-based index over vertex ids in first-seen order, for the
    * driver twins' arrays (order is irrelevant: the relation contract is
    * unordered, as with the distributed paths). */
  private final class VertexIndex {
    private val idx = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    def apply(id: Long): Int = {
      val got = idx.get(id)
      if (got != null) got.intValue
      else { val i = buf.length; idx.put(id, i); buf += id; i }
    }
    def verts: Array[Long] = buf.toArray
  }

  /** The in-memory twin of [[pagerank]]'s distributed loop: the SAME
    * integer arithmetic, operation for operation — per-edge
    * `w·1e6 DIV outw` shares, per-edge `rank·share DIV 1e6` floor before
    * the contribution sum (Long addition commutes, so the distributed
    * sum and this loop agree exactly), dangling recycle, truncating base
    * — over the collected summed edge relation. The final
    * rank-projection expressions run through Spark (one LocalRelation
    * select), so display rounding is the engine's own, not a
    * reimplementation. GraphsSpec pins this path bit-equal to the
    * distributed loop across graph shapes and both teleport modes. */
  private def pagerankDriver(
      spark: org.apache.spark.sql.SparkSession,
      summed: Array[org.apache.spark.sql.Row],
      iterations: Int, dampingPct: Int,
      teleport: Option[Seq[Long]]): DataFrame = {
    val outw = new java.util.HashMap[Long, Long]()
    summed.foreach { r =>
      val s = r.getLong(0)
      outw.put(s, outw.getOrDefault(s, 0L) + r.getLong(2))
    }
    outw.forEach { (s, ow) =>
      if (ow > MaxSafeOutWeight) throw new IllegalStateException(
        s"Graphs.pagerank: per-source weight exceeds $MaxSafeOutWeight; " +
          s"pre-scale edge weights$ow")
    }
    val vid = new VertexIndex
    val edges = summed.map { r =>
      val s = r.getLong(0)
      (vid(s), vid(r.getLong(1)), r.getLong(2) * ShareScale / outw.get(s))
    }
    val verts = vid.verts
    val n = verts.length
    val nT = teleport.map(_.size.toLong).getOrElse(n.toLong)
    val teleSet = teleport.map(_.toSet)
    def isTele(id: Long): Boolean = teleSet.forall(_.contains(id))
    val base = (100L - dampingPct) * (RankScale / nT) / 100L
    val hasOut = new Array[Boolean](n)
    edges.foreach(e => hasOut(e._1) = true)
    var rank = Array.tabulate(n)(i =>
      if (isTele(verts(i))) RankScale / nT else 0L)
    for (_ <- 1 to iterations) {
      val contrib = new Array[Long](n)
      edges.foreach { case (s, d, share) =>
        contrib(d) += rank(s) * share / ShareScale
      }
      var dang = 0L
      var i = 0
      while (i < n) { if (!hasOut(i)) dang += rank(i); i += 1 }
      val dangShare = dang / nT
      rank = Array.tabulate(n) { j =>
        val tele = isTele(verts(j))
        (if (tele) base else 0L) +
          dampingPct * (contrib(j) + (if (tele) dangShare else 0L)) / 100L
      }
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(verts.indices.map(i =>
        org.apache.spark.sql.Row(verts(i), rank(i))): _*)
    spark.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("rank_fp", LongType, nullable = false))))
      .select(col("id"), col("rank_fp"),
        round(col("rank_fp").cast("double") / RankScale, 6).as("rank"))
  }

  /** HITS fixed-point scale: 1e9 keeps every intermediate inside 64-bit
    * comfortably — a raw authority sum is bounded by in-degree·1e9
    * (overflows long only past ~9.2e9 in-edges on one vertex; pre-
    * aggregate such graphs), and the rescale product goes through
    * DECIMAL(38,0) (≤ 1e28 at a billion edges). */
  val HitsScale: Long = 1000000000L

  /** HITS hubs-and-authorities (Kleinberg '99) in pure integer
    * arithmetic: per round, authority a'(v) = Σ_{u→v} h(u) then h'(u) =
    * Σ_{u→v} a(v), each rescaled to total mass [[HitsScale]] via
    * floor(raw·SCALE / Σraw) — the product widened through
    * DECIMAL(38,0), so rounds are exactly replayable in any engine with
    * 128-bit integer division (DuckDB: HUGEINT `//`). On a bipartite
    * graph this is power iteration on AᵀA — suppliers score as hubs,
    * parts as authorities.
    *
    * One round = two graph-sized equi-joins + two partial-aggregated
    * groupBys + two 1-row total broadcasts, but only ONE eager
    * materialization: the hub relation is checkpointed per round (the
    * same lineage-truncation discipline as [[pagerank]]) while the
    * authority side is merely CACHED — it is consumed exactly twice
    * (its own rescale total + the hub join), both inside the round's
    * single checkpoint job, so a lazy cache gives the reuse without a
    * second eager job + block-store write. Lineage stays bounded: the
    * a-plan nests at most one checkpointed leaf. Vertices without
    * out-edges keep hub 0, without in-edges authority 0 (coalesced in
    * the final left joins).
    *
    * Graphs of at most [[DriverLoop.maxRows]] distinct edges run the
    * identical BigInt fixed point in driver arrays. The distributed
    * rounds run on the session's conf. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int): DataFrame = {
    require(iterations >= 1, s"iterations=$iterations must be >= 1")
    val e = Caches.register(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .distinct())
    val spark = edges.sparkSession
    val nEdges = e.count()
    require(nEdges > 0, "Graphs.hits: empty edge list")
    if (nEdges <= DriverLoop.maxRows)
      return hitsDriver(spark, e.collect(), iterations)
    val vertices = Caches.register(
      e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct())
    // floor(raw·SCALE / Σraw), widened through DECIMAL(38,0); Spark's
    // `div` on decimals is integral division returning BIGINT — the
    // exact mirror of DuckDB's HUGEINT `//`.
    // Reuse of `raw` sits on the graph-sized join+groupBy, not on the
    // rescaled projection: the total is a subquery over raw, so cutting
    // downstream of it would execute the join twice per round (once for
    // the total, once for the projection). The h-side gets a
    // localCheckpoint (the round's ONE eager job — it truncates the
    // round's lineage); the a-side raw is cached lazily: its total runs
    // as the broadcast-exchange subjob of the h checkpoint, populating
    // the cache, and the projection then reads the cache inside the same
    // job. That halves the per-round eager materializations (the r6
    // bench's dominant cost on this query) with identical arithmetic.
    def rescale(raw: DataFrame, out: String): DataFrame = {
      val tot = raw.agg(
        sum(col("raw").cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("s"))
      raw.crossJoin(broadcast(tot))
        .select(col("id"),
          expr(s"CAST((CAST(raw AS DECIMAL(38,0)) * $HitsScale) DIV s AS BIGINT)").as(out))
    }
    // the init relation needs no checkpoint — its lineage is one
    // projection over the cached vertex set; round 1's checkpoint cuts it
    var h = vertices.select(col("id"), lit(HitsScale).as("h_fp"))
    var a: DataFrame = null
    var prevACache: DataFrame = null
    for (_ <- 1 to iterations) {
      val aRaw = Caches.register(h.join(e, h("id") === e("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("h_fp")).as("raw")))
      a = rescale(aRaw, "a_fp")
      val hRaw = a.join(e, a("id") === e("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("a_fp")).as("raw"))
      h = rescale(hRaw.localCheckpoint(), "h_fp")
      // the checkpoint job just consumed the PREVIOUS round's a-cache
      // for the last time; the final round's cache stays live because
      // the returned (lazy) plan still reads it
      if (prevACache != null) prevACache.unpersist()
      prevACache = aRaw
    }
    vertices
      .join(h, Seq("id"), "left")
      .join(a, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("h_fp"), lit(0L)).as("hub_fp"),
        coalesce(col("a_fp"), lit(0L)).as("auth_fp"))
  }

  /** The in-memory twin of [[hits]]'s distributed loop: identical
    * arithmetic — Long raw sums, rescale = floor(raw·1e9 / Σraw) with
    * the product widened through BigInt exactly as the distributed
    * path widens through DECIMAL(38,0) — so the two paths are
    * bit-equal (GraphsSpec pins it). h stays defined on the src set and
    * a on the dst set every round, exactly as the round joins keep them
    * in the distributed loop; everyone else reports 0, the coalesce
    * semantics of the final left joins. */
  private def hitsDriver(
      spark: org.apache.spark.sql.SparkSession,
      eRows: Array[org.apache.spark.sql.Row],
      iterations: Int): DataFrame = {
    val vid = new VertexIndex
    val edges = eRows.map(r => (vid(r.getLong(0)), vid(r.getLong(1))))
    val verts = vid.verts
    val n = verts.length
    val isSrc = new Array[Boolean](n)
    val isDst = new Array[Boolean](n)
    edges.foreach { case (s, d) => isSrc(s) = true; isDst(d) = true }
    val h = Array.fill(n)(HitsScale)
    val a = new Array[Long](n)
    def rescale(raw: Array[Long], present: Array[Boolean], out: Array[Long]): Unit = {
      var tot = BigInt(0)
      var i = 0
      while (i < n) { if (present(i)) tot += raw(i); i += 1 }
      i = 0
      while (i < n) {
        if (present(i)) out(i) = ((BigInt(raw(i)) * HitsScale) / tot).toLong
        i += 1
      }
    }
    for (_ <- 1 to iterations) {
      val aRaw = new Array[Long](n)
      edges.foreach { case (s, d) => aRaw(d) += h(s) }
      rescale(aRaw, isDst, a)
      val hRaw = new Array[Long](n)
      edges.foreach { case (s, d) => hRaw(s) += a(d) }
      rescale(hRaw, isSrc, h)
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(verts.indices.map(i =>
        org.apache.spark.sql.Row(verts(i),
          if (isSrc(i)) h(i) else 0L,
          if (isDst(i)) a(i) else 0L)): _*)
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("hub_fp", LongType, nullable = false),
      StructField("auth_fp", LongType, nullable = false))))
  }

  /** The k-CORE of the undirected simple graph induced by `edges`
    * (directions merged, self-loops dropped, multi-edges collapsed):
    * iteratively peel every vertex whose current degree is below `k`
    * until no vertex peels — the standard density primitive (spam rings,
    * mirror farms and boilerplate hubs live in high cores; the periphery
    * peels away). Returns the surviving (id, deg) with degrees measured
    * IN the core subgraph.
    *
    * One round = one degree aggregate + two semi-joins of the symmetric
    * edge relation against the survivor set — all equi-shuffles on the
    * vertex key, edge-relation-sized, fully distributed. Rounds are
    * checkpointed (same lineage-truncation discipline as [[pagerank]] /
    * Dedup.connectedComponents' star rounds). Convergence = the survivor count stops
    * falling (peeling is monotone decreasing, so equal counts mean a
    * fixpoint); `maxIter` bounds adversarial chains — hitting it THROWS,
    * because a partially-peeled graph is not a k-core. Peel-round count
    * is bounded by the longest degeneracy chain, not corpus size —
    * single digits on real graphs. Rounds run on the session's conf. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    require(maxIter >= 1, s"maxIter=$maxIter must be >= 1")
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val spark = edges.sparkSession
    var und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val nEdges = und.count()
    // small graphs peel in driver arrays — same degree arithmetic, same
    // fixpoint/empty/maxIter contract (see DriverLoop; the collect
    // reads the just-checkpointed symmetric relation, no rescan)
    if (nEdges <= DriverLoop.maxRows)
      return kcoreDriver(spark, und.collect(), k, maxIter)
    var prevCount = Long.MaxValue
    var core: Option[DataFrame] = None
    var i = 0
    var deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    while (core.isEmpty && i < maxIter) {
      val keep = deg.filter(col("deg") >= k).localCheckpoint()
      val n = keep.count()
      // fixpoint (nothing peeled) or everything peeled (empty core)
      if (n == prevCount || n == 0L) core = Some(keep)
      else {
        prevCount = n
        und = und
          .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
          .localCheckpoint()
        deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
        i += 1
      }
    }
    core.getOrElse(throw new IllegalStateException(
      s"Graphs.kcore: no fixpoint after maxIter=$maxIter peel rounds — " +
        "raise maxIter (a partially-peeled graph is not a k-core)"))
  }

  /** The in-memory twin of [[kcore]]'s distributed peel: identical
    * semantics over the collected symmetric edge relation — degree
    * filter, both-endpoint survival, fixpoint on an unchanged survivor
    * count, empty-core early-out, loud maxIter. Degrees are Longs
    * (symmetric-row counts), bit-equal to the distributed rollup. */
  private def kcoreDriver(
      spark: org.apache.spark.sql.SparkSession,
      undRows: Array[org.apache.spark.sql.Row],
      k: Int, maxIter: Int): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("deg", LongType, nullable = false)))
    def result(pairs: Iterable[(Long, Long)]): DataFrame = {
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(pairs.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)).toSeq: _*)
      spark.createDataFrame(rows, schema)
    }
    var und = undRows.map(r => (r.getLong(0), r.getLong(1)))
    def degrees: scala.collection.mutable.HashMap[Long, Long] = {
      val d = scala.collection.mutable.HashMap.empty[Long, Long]
      und.foreach { case (a, _) => d.update(a, d.getOrElse(a, 0L) + 1L) }
      d
    }
    var deg = degrees
    var prevCount = Long.MaxValue
    var i = 0
    while (i < maxIter) {
      val keep = deg.filter(_._2 >= k)
      val n = keep.size.toLong
      if (n == prevCount) return result(keep)
      if (n == 0L) return result(Nil)
      prevCount = n
      und = und.filter { case (a, b) => keep.contains(a) && keep.contains(b) }
      deg = degrees
      i += 1
    }
    throw new IllegalStateException(
      s"Graphs.kcore: no fixpoint after maxIter=$maxIter peel rounds — " +
        "raise maxIter (a partially-peeled graph is not a k-core)")
  }

  /** Per-vertex triangle counts of the UNDIRECTED simple graph induced
    * by `edges` (directions merged, self-loops dropped, multi-edges
    * collapsed). Returns (id, triangles).
    *
    * DEGREE-ORDERED orientation: every undirected edge is directed from
    * its lower-(degree, id) endpoint to its higher one, and triangles
    * are enumerated as oriented wedges u→v, v→w closed by u→w — each
    * triangle exactly once, no post-dedup. The orientation is the scale
    * lever: a hot vertex of degree d contributes wedges only through its
    * LOWER-degree neighbors, bounding per-vertex wedge fan-out by
    * O(√E) on any graph (arboricity argument) where the naive id-ordered
    * orientation leaves a low-id celebrity vertex with O(d²) wedges.
    * The triangle SET is orientation-independent, so an oracle may use
    * the simple LEAST/GREATEST orientation and still match exactly.
    *
    * Shuffles: the wedge join keys on the shared vertex and the closing
    * join on the (u, w) pair — both equi-joins on the oriented edge
    * relation (cached: it feeds three join sides). */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    val und = Caches.register(
      e.union(e.select(col("b").as("a"), col("a").as("b"))).distinct())
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    val orient = Caches.register(und
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .filter(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")))
      .select(col("a").as("u"), col("b").as("v")))
    val wedges = orient.as("e1").join(orient.as("e2"),
        col("e1.v") === col("e2.u"))
      .select(col("e1.u").as("wu"), col("e1.v").as("wv"), col("e2.v").as("ww"))
    val tri = wedges.join(orient.as("e3"),
      col("wu") === col("e3.u") && col("ww") === col("e3.v"))
    tri.select(explode(array(col("wu"), col("wv"), col("ww"))).as("id"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("triangles"))
  }

  /** Synchronous weighted LABEL PROPAGATION over `rounds` rounds: the
    * standard near-linear community detector. Edges are symmetrized
    * (both directions, weights summed, self-loops dropped); every vertex
    * starts labeled with its own id; each round every vertex adopts the
    * label with the largest incident weight sum, ties broken by the
    * SMALLEST label — the deterministic-sweep variant (classic LPA
    * breaks ties randomly, which is unverifiable; synchronous + min-tie
    * makes every round a pure function of the previous labeling, so the
    * whole run unrolls into SQL).
    *
    * One round = one graph-sized equi-join (labels ⋈ edges on src) + one
    * (vertex, label)-keyed partial-aggregated sum + one per-vertex
    * row_number pick — all key-partitioned shuffles, label state O(V).
    * Integer weights keep the argmax engine-exact. Each round ends in a
    * localCheckpoint so lineage stays flat at any round count. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds=$rounds must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(weightCol).cast("long").as("w"))
    val sym = Caches.register(
      e.union(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    // small graphs take the argmax rounds in driver arrays — integer
    // weights and the (wt desc, lab asc) pick make the round a pure
    // function of the labeling, identical on either path (spec-pinned;
    // see DriverLoop). The gate count() is one full
    // materialization of the cached edge relation, which the round loop
    // (either path) needs anyway — the billion-edge distributed branch
    // pays it as its cache warm-up, not as extra work.
    if (sym.count() <= DriverLoop.maxRows)
      return labelPropagationDriver(edges.sparkSession, sym.collect(), rounds)
    val vertices = Caches.register(
      sym.select(col("src").as("id")).union(sym.select(col("dst").as("id"))).distinct())
    var labels = vertices.select(col("id"), col("id").as("lab"))
    for (_ <- 1 to rounds) {
      val contrib = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst").as("vid"), col("lab")).agg(sum(col("w")).as("wt"))
      val pick = contrib
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("vid")).orderBy(col("wt").desc, col("lab"))))
        .filter(col("rn") === 1)
        .select(col("vid").as("id"), col("lab").as("newlab"))
      labels = labels.join(pick, Seq("id"), "left")
        .select(col("id"), coalesce(col("newlab"), col("lab")).as("lab"))
        .localCheckpoint()
    }
    labels
  }

  /** The in-memory twin of [[labelPropagation]]'s distributed rounds:
    * per round, per vertex, sum incident weight by neighbor label and
    * adopt the (max weight, min label) argmax — the same deterministic
    * pick the distributed window makes. Vertices keep their label when
    * no neighbor contributes, mirroring the left-join coalesce. */
  private def labelPropagationDriver(
      spark: org.apache.spark.sql.SparkSession,
      symRows: Array[org.apache.spark.sql.Row],
      rounds: Int): DataFrame = {
    val vid = new VertexIndex
    val edges = symRows.map(r => (vid(r.getLong(0)), vid(r.getLong(1)), r.getLong(2)))
    val verts = vid.verts
    val n = verts.length
    var lab = Array.tabulate(n)(i => verts(i))
    for (_ <- 1 to rounds) {
      // wt[(dst, lab(src))] summed, then (wt desc, lab asc) argmax
      val wt = new java.util.HashMap[(Int, Long), Long]()
      edges.foreach { case (s, d, w) =>
        val key = (d, lab(s))
        wt.merge(key, w, (x, y) => x + y): Unit
      }
      val seen = new Array[Boolean](n)
      val bestWt = new Array[Long](n)
      val bestLab = new Array[Long](n)
      wt.forEach { (key, w) =>
        val (d, l) = key
        if (!seen(d) || w > bestWt(d) || (w == bestWt(d) && l < bestLab(d))) {
          seen(d) = true; bestWt(d) = w; bestLab(d) = l
        }
      }
      lab = Array.tabulate(n)(i => if (seen(i)) bestLab(i) else lab(i))
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(verts.indices.map(i =>
        org.apache.spark.sql.Row(verts(i), lab(i))): _*)
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("lab", LongType, nullable = false))))
  }

  /** Minimum-hop BFS distances from `source` over the DIRECTED edge
    * list, bounded at `maxHops` rounds (the bound is semantic — both the
    * operator and its recursive-CTE oracle stop at the same depth).
    * Returns (id, hops) for every vertex reached within the bound;
    * unreached vertices are absent.
    *
    * One round = the CURRENT frontier (vertices first reached last
    * round) joined to the edge relation — frontier-sized EXPANSION — then
    * a min-hop merge into the known-distance relation. The merge
    * re-aggregates dist ∪ expanded, so each round shuffles O(V) distance
    * state (distance-state-sized merge, not frontier-sized); all
    * equi-shuffles on the vertex key. localCheckpoint per round keeps
    * the loop's lineage flat. */
  def bfs(edges: DataFrame, srcCol: String, dstCol: String,
      source: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops=$maxHops must be >= 1")
    val e = Caches.register(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val spark = edges.sparkSession
    import spark.implicits._
    // small graphs expand in a driver adjacency map — min-hop frontier
    // semantics are identical by construction (see DriverLoop).
    // The gate count() doubles as the cache warm-up for the cached edge
    // relation both branches read, so the distributed path pays no extra
    // job for the gate.
    if (e.count() <= DriverLoop.maxRows) {
      val adj = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      e.collect().foreach { r =>
        adj.getOrElseUpdate(r.getLong(0),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += r.getLong(1)
      }
      val hops = scala.collection.mutable.HashMap(source -> 0L)
      var frontier = Seq(source)
      for (h <- 1 to maxHops; if frontier.nonEmpty) {
        val next = frontier.flatMap(adj.getOrElse(_, Nil))
          .filterNot(hops.contains).distinct
        next.foreach(hops.update(_, h.toLong))
        frontier = next
      }
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val rows: java.util.List[org.apache.spark.sql.Row] =
        java.util.Arrays.asList(hops.toSeq.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)): _*)
      return spark.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("hops", LongType, nullable = false))))
    }
    var dist = Seq((source, 0L)).toDF("id", "hops").localCheckpoint()
    for (h <- 1 to maxHops) {
      val frontier = dist.filter(col("hops") === (h - 1))
      val next = frontier.join(e, frontier("id") === e("src"))
        .select(col("dst").as("id"), lit(h.toLong).as("hops"))
      dist = dist.union(next)
        .groupBy(col("id")).agg(min(col("hops")).as("hops"))
        .localCheckpoint()
    }
    dist
  }
}
