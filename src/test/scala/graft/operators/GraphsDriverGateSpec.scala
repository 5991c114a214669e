package graft.operators

import graft.SparkSpec

/** Pins the round-15 small-graph driver gate ([[DriverLoop]])
  * BIT-EQUAL to the distributed loops it routes around, per operator —
  * the same two-path equality discipline DensitySpec and GraphsSpec
  * apply to connectedComponents' union-find and star contraction.
  * `DriverLoop.withMaxRows(0)` forces the distributed path; the default
  * bound takes the driver path on these graphs.
  */
class GraphsDriverGateSpec extends SparkSpec {
  import spark.implicits._

  // a graph with real structure: cycles, weight skew, a dangling sink
  // cluster (900..902 have no out-edges), and multi-edges
  private val prEdges: Seq[(Long, Long, Long)] =
    (0L until 200L).map(i => (i, (i * 7 + 3) % 200L, 1L + i % 5)) ++
      (0L until 50L).map(i => (i, 900L + i % 3, 2L)) ++
      Seq((7L, 50L, 3L), (7L, 50L, 4L)) // multi-edge, pre-summed by the op

  private def prSet(gate: Long, tele: Option[Seq[Long]]) = DriverLoop.withMaxRows(gate) {
    Graphs.pagerank(prEdges.toDF("src", "dst", "w"), "src", "dst", "w",
        iterations = 6, teleport = tele)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("pagerank: driver path equals distributed loop (uniform + teleport)") {
    assert(prSet(DriverLoop.MaxRows, None) === prSet(0L, None))
    assert(prSet(DriverLoop.MaxRows, Some(Seq(0L, 3L))) ===
      prSet(0L, Some(Seq(0L, 3L))))
  }

  test("pagerank: driver path enforces the out-weight overflow guard") {
    val huge = Graphs.MaxSafeOutWeight
    val e = intercept[Exception] {
      Graphs.pagerank(
        Seq((0L, 1L, huge), (0L, 2L, huge), (1L, 0L, 1L), (2L, 0L, 1L))
          .toDF("src", "dst", "w"), "src", "dst", "w", 3)
    }
    assert(e.getMessage.contains("pre-scale edge weights"))
  }

  test("pagerank: distributed path enforces the same overflow guard") {
    // gate 0 forces the distributed loop, so the raise_error in the
    // shares projection keeps coverage alongside the driver-path throw
    val huge = Graphs.MaxSafeOutWeight
    val e = intercept[Exception] {
      DriverLoop.withMaxRows(0L) {
        Graphs.pagerank(
          Seq((0L, 1L, huge), (0L, 2L, huge), (1L, 0L, 1L), (2L, 0L, 1L))
            .toDF("src", "dst", "w"), "src", "dst", "w", 3)
      }
    }
    assert(e.getMessage.contains("pre-scale edge weights"))
  }

  test("hits: driver path equals distributed loop on a bipartite graph") {
    // bipartite suppliers→parts with degree skew + a part also acting
    // as a source (src/dst overlap exercises the presence bookkeeping)
    val edges = ((0L until 40L).flatMap(s =>
      (0L until (1L + s % 7)).map(j => (s, 100L + (s * 3 + j) % 25L))) ++
      Seq((100L, 115L))).toDF("src", "dst")
    def run(gate: Long) = DriverLoop.withMaxRows(gate) {
      Graphs.hits(edges, "src", "dst", iterations = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(run(DriverLoop.MaxRows) === run(0L))
  }

  test("kcore: driver peel equals distributed peel, including empty core") {
    val k5 = for (i <- 0L to 4L; j <- 0L to 4L if i < j) yield (i, j)
    val chain = Seq((4L, 10L), (10L, 11L), (11L, 12L))
    def run(k: Int, gate: Long) = DriverLoop.withMaxRows(gate) {
      Graphs.kcore((k5 ++ chain).toDF("src", "dst"), "src", "dst", k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(run(3, DriverLoop.MaxRows) === run(3, 0L))
    assert(run(9, DriverLoop.MaxRows) === run(9, 0L)) // both empty
    assert(run(9, DriverLoop.MaxRows).isEmpty)
  }

  test("labelPropagation: driver rounds equal distributed rounds") {
    // two weighted cliques joined by a weak bridge + an isolated edge
    def clique(base: Long, w: Long) =
      for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (base + i, base + j, w)
    val edges = (clique(0L, 5L) ++ clique(10L, 4L) ++
      Seq((3L, 10L, 1L), (20L, 21L, 2L))).toDF("src", "dst", "w")
    def run(gate: Long) = DriverLoop.withMaxRows(gate) {
      Graphs.labelPropagation(edges, "src", "dst", "w", rounds = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(run(DriverLoop.MaxRows) === run(0L))
  }

  test("bfs: driver frontier equals distributed frontier, bound respected") {
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L),
      (4L, 5L), (9L, 0L)).toDF("src", "dst")
    def run(gate: Long, hops: Int) = DriverLoop.withMaxRows(gate) {
      Graphs.bfs(edges, "src", "dst", source = 0L, maxHops = hops)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(run(DriverLoop.MaxRows, 2) === run(0L, 2))
    assert(run(DriverLoop.MaxRows, 4) === run(0L, 4))
    // depth bound: vertex 5 is 4 hops out, absent at maxHops = 2
    assert(!run(DriverLoop.MaxRows, 2).exists(_._1 == 5L))
  }
}
