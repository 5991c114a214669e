package graft.operators

import graft.{Sessions, SparkSpec}

/** Pins the one scoped session-conf override ([[Sessions.withConfs]]) and
  * the one round scaffold ([[DriverLoop.RoundCheckpoints]]): the scope
  * restores what it changed on every exit, no operator hand-rolls either
  * piece again, and the batch operators and the ETL run on the session's
  * conf rather than changing it: the only session-conf write outside
  * Sessions is the events loaders' shared nanosAsLong switch. */
class RoundScaffoldSpec extends SparkSpec {
  import spark.implicits._

  test("withConfs restores set keys and leaves unset keys unset, also on a throw; kcore's exits keep the session conf") {
    val parts = "spark.sql.shuffle.partitions"
    val fresh = "spark.graft.spec.scopedKey"
    val before = spark.conf.getOption(parts)
    assert(before.isDefined)
    assert(spark.conf.getOption(fresh).isEmpty)
    def assertRestored(when: String): Unit = {
      assert(spark.conf.getOption(parts) === before, s"$parts not restored $when")
      assert(spark.conf.getOption(fresh).isEmpty, s"$fresh left set $when")
    }
    val seen = Sessions.withConfs(spark, parts -> "7", fresh -> "x") {
      (spark.conf.get(parts), spark.conf.get(fresh))
    }
    assert(seen === (("7", "x")))
    assertRestored("on normal exit")
    val ex = intercept[IllegalStateException] {
      Sessions.withConfs(spark, parts -> "7", fresh -> "x") {
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage === "boom")
    assertRestored("after a throw")

    // kcore's distributed peel returns its fixpoint and throws on
    // maxIter: neither exit leaves the session conf changed
    val keys = Seq(parts, "spark.sql.autoBroadcastJoinThreshold")
    val confs = keys.map(spark.conf.getOption)
    val k5 = for (a <- 0L until 5L; b <- 0L until 5L if a < b) yield (a, b)
    val path = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    DriverLoop.withMaxRows(0L) {
      val core = Graphs.kcore((k5 :+ ((0L, 10L))).toDF("src", "dst"), "src", "dst", k = 3)
      assert(core.collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L, 3L, 4L))
      assert(keys.map(spark.conf.getOption) === confs, "kcore fixpoint exit changed the session conf")
      val thrown = intercept[IllegalStateException] {
        Graphs.kcore(path.toDF("src", "dst"), "src", "dst", k = 2, maxIter = 1)
      }
      assert(thrown.getMessage.contains("no fixpoint after maxIter=1"))
      assert(keys.map(spark.conf.getOption) === confs, "kcore maxIter throw changed the session conf")
    }
  }

  test("session-conf overrides and round scaffolding live only in Sessions and DriverLoop") {
    import scala.jdk.CollectionConverters._
    // a hand-rolled save/restore forgets a key or a throw path; a copied
    // round formula or checkpoint-generation block drifts from the others
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"${root.toAbsolutePath} not found")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val owners = Set("Sessions.scala", "DriverLoop.scala")
    val tokens = Seq("prevParts", "prevBcast", "prevShuffle", "prevProvider",
      "ckptSubdir", "rmCkptGen", "/ 250000L")
    val hits = for {
      p <- files if !owners.contains(p.getFileName.toString)
      text = java.nio.file.Files.readString(p)
      t <- tokens if text.contains(t)
    } yield s"$p: $t"
    assert(hits.isEmpty, s"hand-rolled conf scope or round scaffold in:\n${hits.mkString("\n")}")

    // the rounds run at the session's shuffle partitions (AQE coalesces
    // small round shuffles) and broadcast threshold, and no entry point's
    // conf is changed behind Sessions: no operator sets either key (a
    // `key -> v` scope or a `set(key, v)`; reading one is fine), and
    // nothing in the program names a map-key dedup policy (the token is
    // split so this file does not match its own scan)
    val opsDir = root.resolve("graft/operators")
    val roundConf =
      """"spark\.sql\.(shuffle\.partitions|autoBroadcastJoinThreshold)"\s*(->|,)""".r
    val overrides = files.flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      (if (p.startsWith(opsDir)) roundConf.findAllMatchIn(text).map(m => s"$p: ${m.group(1)} override").toSeq
        else Nil) ++
      (if (text.contains("mapKeyDedup" + "Policy")) Seq(s"$p: map-key dedup policy") else Nil)
    }
    assert(overrides.isEmpty, s"session conf changed behind Sessions in:\n${overrides.mkString("\n")}")

    // the one session-conf write outside Sessions is Tables'
    // readNanosAsLong, shared by the batch and streaming events loaders;
    // any other `conf.set(` in the program changes an entry point's conf
    // behind Sessions
    val confSet = """conf\.set\(""".r
    val sharedSite = """def readNanosAsLong\([^)]*\): Unit =\s*spark\.conf\.set\(""".r
    val writes = files.filter(_.getFileName.toString != "Sessions.scala").flatMap { p =>
      val text = java.nio.file.Files.readString(p)
      val n = confSet.findAllMatchIn(text).size
      val allowed = if (p.getFileName.toString == "Tables.scala") sharedSite.findAllMatchIn(text).size else 0
      if (n > allowed) Some(s"$p: ${n - allowed} conf.set( outside readNanosAsLong") else None
    }
    assert(writes.isEmpty, s"session conf written outside Sessions in:\n${writes.mkString("\n")}")
  }
}
