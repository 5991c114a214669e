package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DBSCAN semantics on planted geometry: known clusters, border
  * attachment, noise isolation, and cross-cell neighbor discovery. */
class DensitySpec extends SparkSpec {

  import spark.implicits._

  private def run(pts: Seq[(Long, Long, Long)], eps: Long, minPts: Int) =
    Density.dbscan(pts.toDF("id", "xm", "ym"), eps, minPts)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("two blobs cluster separately, far point is noise") {
    // blob A: 5 points in a tight knot at (0..40, 0), blob B: 5 points
    // at (10000.., 0); one isolated point at (50000, 50000)
    val a = (0L until 5L).map(i => (i, i * 10L, 0L))
    val b = (10L until 15L).map(i => (i, 10000L + (i - 10L) * 10L, 0L))
    val out = run(a ++ b :+ ((99L, 50000L, 50000L)), eps = 100L, minPts = 3)
    assert(out(99L) === ("noise", -1L))
    val aLbl = a.map(p => out(p._1)._2).distinct
    val bLbl = b.map(p => out(p._1)._2).distinct
    assert(aLbl === Seq(0L), s"blob A must be one cluster labeled 0, got $aLbl")
    assert(bLbl === Seq(10L), s"blob B must be one cluster labeled 10, got $bLbl")
    assert(a.forall(p => out(p._1)._1 === "core"))
  }

  test("border points attach but do not bridge (density-reachability, not distance)") {
    // chain: core knot at 0, a border point at distance eps from the
    // knot's edge, and a second knot 2·eps beyond it — the border point
    // is within eps of BOTH knots but cores of neither; the knots must
    // stay separate clusters and the border takes the MIN core label
    val knotA = Seq((0L, 0L, 0L), (1L, 1L, 0L), (2L, 2L, 0L), (3L, 3L, 0L))
    val borderPt = (10L, 103L, 0L) // within eps=100 of id=3 only
    val knotB = Seq((20L, 203L, 0L), (21L, 204L, 0L), (22L, 205L, 0L), (23L, 206L, 0L))
    val out = run(knotA ++ Seq(borderPt) ++ knotB, eps = 100L, minPts = 4)
    assert(out(10L)._1 === "border")
    assert(out(10L)._2 === 0L, "border tie resolves to the MIN core label")
    assert(knotA.forall(p => out(p._1) === ("core", 0L)))
    assert(knotB.forall(p => out(p._1) === ("core", 20L)),
      "knots must not merge through the shared border point")
  }

  test("neighbors are found across grid-cell boundaries") {
    // two points eps apart, straddling a cell boundary (cell side = eps):
    // (eps-1, 0) is in cell 0, (eps+1, 0) in cell 1, distance 2 < eps
    val out = run(Seq((0L, 99L, 0L), (1L, 101L, 0L), (2L, 100L, 1L)),
      eps = 100L, minPts = 3)
    assert(out.values.forall(_._1 === "core"),
      s"3 mutual neighbors across the cell seam must all be core: $out")
    assert(out.values.map(_._2).toSet === Set(0L))
  }

  test("chain skeleton: star-contraction path labels identically to driver union-find") {
    // 30 collinear points spaced eps/2: each has 4 ball-mates (±1, ±2)
    // → all core at minPts 5, one filament cluster of diameter ~15 —
    // the shape that overruns a diameter-bounded label loop at scale.
    // a driver-loop bound of 0 forces star contraction; labels must
    // equal the default (driver union-find) path exactly.
    val chain = (0L until 30L).map(i => (i, i * 50L, 0L))
    val viaDriver = run(chain, eps = 100L, minPts = 5)
    val viaStar = DriverLoop.withMaxRows(0L) {
      Density.dbscan(chain.toDF("id", "xm", "ym"), eps = 100L, minPts = 5)
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    }
    assert(viaStar === viaDriver)
    // chain ENDS (ids 0, 1, 28, 29) see only 2-3 ball-mates → border;
    // the cluster label is the min CORE id, 2
    assert(chain.forall(p => viaDriver(p._1)._2 === 2L),
      s"whole chain is one cluster labeled 2: $viaDriver")
    assert((2L until 28L).forall(viaDriver(_)._1 === "core"))
    assert(Seq(0L, 1L, 28L, 29L).forall(viaDriver(_)._1 === "border"))
  }

  test("isolated core gets a singleton cluster labeled by its own id") {
    // one point with minPts-1 non-core neighbors: the center is core
    // (ball population = minPts), neighbors are border, no core-core
    // edge exists — the cluster label must fall back to the core's id
    val center = (5L, 1000L, 1000L)
    val ring = Seq((6L, 1090L, 1000L), (7L, 910L, 1000L), (8L, 1000L, 1090L), (9L, 1000L, 910L))
    val out = run(Seq(center) ++ ring, eps = 100L, minPts = 5)
    assert(out(5L) === ("core", 5L))
    assert(ring.forall(p => out(p._1) === ("border", 5L)),
      s"ring points are border of the singleton core: $out")
  }
}
