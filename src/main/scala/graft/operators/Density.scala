package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN, Ester et al. KDD'96) on 2-D integer
  * point sets — the clustering family k-means structurally can't cover:
  * arbitrary-shape clusters plus an explicit NOISE class, with no k to
  * guess.
  *
  * Distributed formulation: grid-cell blocking plus the DENSE-BOX
  * shortcut. Cells of side eps make every eps-neighborhood a 3×3 cell
  * probe — an EQUI join on cell id followed by an exact integer distance
  * check. A second grid of side s2 ≤ eps/√2 (cell diagonal ≤ eps) powers
  * two structural savings the sf10 decade probe proved necessary:
  *
  *  - DENSE-BOX CORES: an s2-cell holding ≥ minPts points makes every
  *    point in it core WITHOUT any pair enumeration (the cell is inside
  *    the point's own eps-ball). Neighbor COUNTING therefore runs only
  *    for points in sparse cells — and in a skewed corpus the dense
  *    center, exactly where pair volume explodes quadratically with
  *    local density, never enumerates pairs for core status at all.
  *  - CONTRACTED SKELETON: per s2-cell a star from the cell's min core,
  *    plus ONE witness edge per connected cell pair, replace the raw
  *    core-core graph (quadratic in occupancy, filament-shaped) —
  *    component-exact, see the inline proof.
  *
  * The one remaining corpus-sized stream — the cross-cell witness scan —
  * is deliberately NOT cached: it flows straight into a map-side partial
  * DISTINCT on cell-pair coordinates, collapsing to ≤ 21 × occupied
  * cells rows before any exchange. (The sf10 probe's disk death was the
  * CACHE of the full neighbor list — ~2B rows × 52 B spilled past a
  * 250 GB disk; nothing downstream ever needed those rows wide.)
  *
  * Scale (100 TB): every stage is an equi shuffle on cell id or point id
  * — no cartesian anywhere. Sparse-side candidate volume is bounded by
  * minPts × 9 per probe cell by the dense/sparse split; eps remains a
  * DENSITY knob (see the caller's eps ladder) so average occupancy stays
  * put as the corpus grows. The integer coordinate contract keeps the
  * distance check exact and the whole chain SQL-mirrorable (dx² + dy² ≤
  * eps² in BIGINT — coordinates must stay below ~2^30 so squares fit).
  */
object Density {

  /** DBSCAN over `pts` with columns (id: long-castable, xm: long, ym:
    * long) in integer micro-units. Returns (id, role, cluster):
    * role ∈ core|border|noise; cluster = min point id reachable through
    * the core skeleton, -1 for noise. minPts counts the point ITSELF
    * (the classic definition: |N_eps(p)| ≥ minPts with p ∈ N_eps(p)).
    *
    * Closure: core skeletons are FILAMENTS — density-connected chains
    * whose graph diameter grows with cluster extent / eps (measured: the
    * sf1 customer plane's skeleton blew past a 10-round min-label loop).
    * [[Dedup.connectedComponents]] closes them by driver union-find
    * under [[DriverLoop.maxRows]] and by star contraction above it —
    * O(log n) rounds regardless of diameter. */
  def dbscan(pts: DataFrame, eps: Long, minPts: Int): DataFrame = {
    require(eps > 0, s"eps=$eps must be positive")
    require(minPts >= 2, s"minPts=$minPts must be at least 2 (1 makes everything core)")
    val spark = pts.sparkSession
    import spark.implicits._
    // contraction/dense grid: side s2 ≤ eps/√2 ⇒ same-cell points are
    // mutually within eps. At eps = 1 no integer side satisfies this
    // (s2 must be ≥ 1 but eps/√2 < 1): both s2-based shortcuts switch
    // off and the skeleton falls back to raw core-core edges — correct
    // at any eps, and an eps of one micro-unit has no dense geometry
    // worth shortcutting anyway.
    val s2 = math.max(1L, (eps.toDouble / math.sqrt(2.0)).toLong)
    val s2Valid = 2L * s2 * s2 <= eps * eps
    val p = Caches.register(pts.select($"id".cast("long").as("id"),
      $"xm".cast("long").as("xm"), $"ym".cast("long").as("ym"),
      floor($"xm" / eps).as("cx"), floor($"ym" / eps).as("cy"),
      floor($"xm" / s2).as("gx"), floor($"ym" / s2).as("gy")))
    // probe side: each point replicated to its 3×3 cell neighborhood;
    // the join hits the build side's HOME cell only, so a pair (a, b)
    // forms exactly once — no distinct needed
    val offsets = for (dx <- -1 to 1; dy <- -1 to 1) yield (dx, dy)
    def probesOf(d: DataFrame) = d.select($"id", $"xm", $"ym", $"gx", $"gy",
      explode(array(offsets.map { case (dx, dy) =>
        struct(($"cx" + dx).as("cx"), ($"cy" + dy).as("cy"))
      }: _*)).as("nc"))
      .select($"id", $"xm", $"ym", $"gx", $"gy",
        $"nc.cx".as("cx"), $"nc.cy".as("cy"))
    val d2 = ($"a.xm" - $"b.xm") * ($"a.xm" - $"b.xm") +
      ($"a.ym" - $"b.ym") * ($"a.ym" - $"b.ym")
    def ballJoin(a: DataFrame, b: DataFrame) =
      probesOf(a).as("a").join(b.as("b"),
        $"a.cx" === $"b.cx" && $"a.cy" === $"b.cy" && $"a.id" =!= $"b.id" &&
          d2 <= lit(eps * eps))
    // DENSE-BOX: s2-cells holding ≥ minPts points are all-core, no pair
    // enumeration; only sparse-cell points count their eps-ball (against
    // ALL points — a sparse point's ball reaches into dense cells)
    val denseCells =
      if (s2Valid) p.groupBy($"gx", $"gy").agg(count(lit(1)).as("n"))
        .filter($"n" >= minPts).select($"gx", $"gy", lit(true).as("dense"))
      else spark.emptyDataset[(Long, Long, Boolean)].toDF("gx", "gy", "dense")
    val pf = Caches.register(p.join(denseCells, Seq("gx", "gy"), "left")
      .na.fill(Map("dense" -> false)))
    val coresDense = pf.filter($"dense").select($"id")
    // the SPARSE-probe ball pairs serve two passes — the core degree
    // count here and the border attach below (border probes are non-core
    // points, and every non-core point is sparse: dense-cell points are
    // all core) — so the narrow (pid, nid) pair relation is cached and
    // the second ball join disappears (r16: solo min 5.6 → 5.3 s at
    // sf0.1 with a much tighter tail; the remaining cost is the
    // core-core witness scan, which stays uncached by design). Cache
    // volume note: this is the SPARSE-probe candidate stream only — the
    // r12 sf10 cache death was the full (dense-probe) neighbor list,
    // whose quadratic dense-dense mass this relation excludes by
    // construction.
    val sparsePairs = Caches.register(
      ballJoin(pf.filter(!$"dense"), pf)
        .select($"a.id".as("pid"), $"b.id".as("nid")))
    val coresSparse = sparsePairs
      .groupBy($"pid".as("id")).agg(count(lit(1)).as("deg"))
      .filter($"deg" >= minPts - 1) // self counts toward minPts
      .select($"id")
    val cores = Caches.register(coresDense.unionByName(coresSparse))
    // CONTRACTED core skeleton: dense regions make the raw core-core
    // graph quadratic in cell occupancy (every in-ball pair is an edge)
    // AND filament-shaped (diameter ∝ cluster extent / eps) — the worst
    // case for any closure. Same-s2-cell cores are mutually within eps,
    // so (a) a star from each cell's min core to its cell-mates replaces
    // the within-cell clique, and (b) ONE witness edge per connected
    // cell pair — (repr_a, repr_b) for any core pair (a, b) within eps
    // across cells — replaces the cross-cell bundle: a–repr_a and
    // b–repr_b are real edges, so skeleton connectivity EQUALS core-graph
    // connectivity (components, and hence min-id labels, are identical;
    // DensitySpec pins this against both closure paths). Edge count
    // drops from Σ occupancy² to ~(cores + occupied cell pairs) ∝ N.
    val corePts = Caches.register(pf.join(cores, "id")
      .select($"id", $"xm", $"ym", $"cx", $"cy", $"gx", $"gy"))
    val skeleton = if (s2Valid) {
      val cellMin = Caches.register(corePts.groupBy($"gx", $"gy")
        .agg(min($"id").as("repr")))
      val starEdges = corePts.join(cellMin, Seq("gx", "gy"))
        .filter($"id" =!= $"repr")
        .select($"repr".as("id_a"), $"id".as("id_b"))
      // the corpus-sized witness stream: core×core ball pairs collapse
      // map-side to distinct cell pairs BEFORE any exchange — never
      // cached, never carried wide (the sf10 lesson)
      val crossEdges = ballJoin(corePts, corePts)
        .filter($"a.gx" =!= $"b.gx" || $"a.gy" =!= $"b.gy")
        .select($"a.gx".as("gxa"), $"a.gy".as("gya"),
          $"b.gx".as("gxb"), $"b.gy".as("gyb")).distinct()
        .join(cellMin.select($"gx".as("gxa"), $"gy".as("gya"), $"repr".as("id_a")),
          Seq("gxa", "gya"))
        .join(cellMin.select($"gx".as("gxb"), $"gy".as("gyb"), $"repr".as("id_b")),
          Seq("gxb", "gyb"))
        .select($"id_a", $"id_b")
      starEdges.unionByName(crossEdges)
    } else {
      ballJoin(corePts, corePts).filter($"a.id" < $"b.id")
        .select($"a.id".as("id_a"), $"b.id".as("id_b"))
    }
    val linked = Dedup.connectedComponents(skeleton)
      .select($"id", $"label".as("cluster"))
    // isolated cores (≥ minPts border/noise neighbors, no core neighbor):
    // singleton clusters labeled by their own id
    val coreLbl = Caches.register(cores
      .join(linked, Seq("id"), "left")
      .select($"id", coalesce($"cluster", $"id").as("cluster")))
    // border: non-core in some core's eps-ball; min core label (the
    // deterministic resolution of DBSCAN's border-assignment tie).
    // No new ball join: every non-core point is sparse, so its in-ball
    // neighbors are already enumerated in sparsePairs — restrict the
    // probe side to non-cores (anti-join) and the build side to labeled
    // cores (equi-join on the neighbor id), exactly the pairs the
    // dropped ballJoin(non-cores, labeled cores) would have formed.
    val border = sparsePairs
      .join(cores.withColumnRenamed("id", "pid"), Seq("pid"), "left_anti")
      .join(coreLbl.select($"id".as("nid"), $"cluster"), "nid")
      .groupBy($"pid".as("id")).agg(min($"cluster").as("cluster"))
    val coreOut = coreLbl.select($"id", lit("core").as("role"), $"cluster")
    val borderOut = border.select($"id", lit("border").as("role"), $"cluster")
    val noiseOut = p.select($"id")
      .join(coreOut.select($"id").unionAll(borderOut.select($"id")), Seq("id"), "left_anti")
      .select($"id", lit("noise").as("role"), lit(-1L).as("cluster"))
    coreOut.unionByName(borderOut).unionByName(noiseOut)
  }
}
