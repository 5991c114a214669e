package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the entry points' [[Sessions]]
  * configuration on a fixed 4 cores, so results do not depend on the
  * host. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(cpus = 4)
    // fresh warehouse per JVM: the in-memory catalog forgets tables across
    // sessions but their directories would otherwise persist and collide
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .getOrCreate()

  /** All messages down a throwable's cause chain — the shared walker
    * for loud-throw specs (Spark wraps kernel exceptions in several
    * layers of SparkException, so asserting on the top message alone
    * is flaky). */
  def causeMessages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ causeMessages(t.getCause)

  override def afterAll(): Unit = {
    // keep the session alive across suites (single forked JVM)
    super.afterAll()
  }
}
