package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the entry points' [[Sessions]]
  * configuration on a fixed 4 cores, so results do not depend on the
  * host. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local(cpus = 4)
    .config("spark.sql.warehouse.dir", SparkSpec.warehouse.toString)
    .getOrCreate()

  /** A fresh directory under the per-JVM spec root (see [[SparkSpec]]'s
    * companion): deleted when the JVM exits, so specs leave nothing in
    * the temp dir however they end. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(SparkSpec.root, prefix)

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

object SparkSpec {
  /** One temp root per test JVM, deleted by a shutdown hook (as
    * `analytics.Scratch` does for the queries' scratch writes): every
    * spec temp dir and the warehouse live under it. */
  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft_spec_")
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(r.toFile): Unit)
    r
  }

  /** The warehouse dir, made once per JVM: every suite shares one
    * session, which reads this setting only when it is first built. */
  private lazy val warehouse: java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(root, "graft_wh")
}
