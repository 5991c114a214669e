package graft.analytics

import graft.SparkSpec
import graft.operators.DriverLoop

/** Pins the round-15 query-level driver fixed-point paths bit-equal to
  * the distributed loops they route around, on the real sf0.001 corpus:
  * q_markov_attribution's removal-effect rounds, q_bradley_terry's MM
  * rounds (including the double→DECIMAL(18,12) term replication), and
  * q_nmf_topics' multiplicative updates. `DriverLoop.withMaxRows(0)`
  * forces the distributed branch; the default bound takes the driver
  * branch on this corpus — the same two-path discipline as
  * GraphsDriverGateSpec. The DuckDB hash oracle gates the same
  * trajectories externally at sf0.01/sf0.1.
  */
class DriverLoopGateSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  private def rowsOf(df: => org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** `frame` under the default bound, then under `gate` (each from a
    * cold cache). */
  private def bothPaths(gate: Long)(frame: => org.apache.spark.sql.DataFrame) = {
    val driver = rowsOf(frame)
    graft.operators.Caches.unpersistAll()
    (driver, DriverLoop.withMaxRows(gate)(rowsOf(frame)))
  }

  test("q_markov_attribution: driver rounds equal distributed rounds") {
    val (driver, dist) = bothPaths(0L)(FunnelQueries.markovAttributionFrame(spark, Dir))
    assert(driver === dist)
    assert(driver.nonEmpty)
  }

  test("q_markov_attribution: edges within the bound but variants × edges over it fall through") {
    // sf0.001's transition relation has 23 rows and 5 removal variants
    // (115 variant edges): a bound of 50 admits the edge collect but
    // not the variant surface, so the inner check routes to the
    // distributed rounds after the collect
    val (driver, fallThrough) = bothPaths(50L)(FunnelQueries.markovAttributionFrame(spark, Dir))
    assert(driver === fallThrough)
    assert(driver.nonEmpty)
  }

  test("q_bradley_terry: driver MM rounds equal distributed rounds") {
    val (driver, dist) = bothPaths(0L)(FunnelQueries.bradleyTerryFrame(spark, Dir))
    assert(driver === dist)
    assert(driver.nonEmpty)
  }

  test("q_nmf_topics: driver MM rounds equal distributed rounds") {
    val (driver, dist) = bothPaths(0L)(CorpusStatsQueries.nmfTopicsFrame(spark, Dir))
    assert(driver === dist)
    assert(driver.nonEmpty)
  }

  test("q_quality_logreg: driver gradient rounds equal distributed rounds") {
    val (driver, dist) = bothPaths(0L)(PipelineQueries.qualityLogregFrame(spark, Dir))
    assert(driver === dist)
    assert(driver.nonEmpty)
  }

  test("DriverLoop is the one gate: no per-site bound, one scoped seam") {
    import scala.jdk.CollectionConverters._
    // a per-site parameter or constant lets one operator drift from the
    // driver-memory policy every other gate follows
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val src = files.map(p => p -> java.nio.file.Files.readString(p))
    val perSite = src.filter(_._2.toLowerCase.contains("drivermax")).map(_._1)
    assert(perSite.isEmpty, s"per-site driver-loop bound in: ${perSite.mkString(", ")}")
    val seams = src.filter { case (p, text) =>
      p.getFileName.toString != "DriverLoop.scala" && text.contains("withMaxRows")
    }.map(_._1)
    assert(seams.isEmpty, s"withMaxRows outside DriverLoop.scala: ${seams.mkString(", ")}")
    // the bound is scoped: restored after a throwing body
    assert(DriverLoop.maxRows === DriverLoop.MaxRows)
    intercept[IllegalStateException] {
      DriverLoop.withMaxRows(7L) {
        assert(DriverLoop.maxRows === 7L)
        throw new IllegalStateException("boom")
      }
    }
    assert(DriverLoop.maxRows === DriverLoop.MaxRows)
  }
}
