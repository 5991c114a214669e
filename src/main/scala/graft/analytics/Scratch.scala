package graft.analytics

/** Scratch paths for queries that must write through a real sink before
  * reading back (round-trip contracts, materialized-aggregate
  * maintenance). Each JVM writes under its own fresh root in the JVM temp
  * dir, so two runs over the same sf dir never share a path. Under that
  * root, the hex tag of the full sf-dir path keeps SFs apart, and
  * overwrite-mode writers make re-runs in one JVM replace rather than
  * accumulate. The root is deleted when the JVM exits, not when a query
  * finishes: the plans a query returns read these files lazily. */
private[analytics] object Scratch {
  private lazy val root: java.io.File = {
    val r = java.nio.file.Files.createTempDirectory("graft_scratch_").toFile
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(r): Unit)
    r
  }

  def dir(prefix: String, sfDir: String): String = {
    val tag = sfDir.getBytes("UTF-8").map(b => f"$b%02x").mkString
    new java.io.File(root, s"${prefix}_$tag").getAbsolutePath
  }
}
