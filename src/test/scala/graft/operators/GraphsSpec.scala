package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphsSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long, Long)], iters: Int = 12): Map[Long, Long] =
    Graphs.pagerank(edges.toDF("src", "dst", "w"), "src", "dst", "w", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("uniform cycle converges to uniform ranks") {
    // 0→1→2→0: perfectly symmetric, so every vertex keeps mass/3
    val r = ranks(Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L)))
    assert(r.size === 3)
    // each round truncates a couple of units of mass per vertex; the
    // deviation is bounded by ~2 units per iteration, never more
    val third = Graphs.RankScale / 3
    r.values.foreach(v => assert(math.abs(v - third) <= 24,
      s"cycle rank $v deviates from uniform $third"))
  }

  test("hub-and-spoke: sink outranks sources; dangling mass is recycled") {
    // three sources each point at one sink; the sink has NO out-edges, so
    // without dangling redistribution its mass would leak every round and
    // total mass would collapse toward (1-d) — with it, totals stay ~1.
    val r = ranks(Seq((1L, 9L, 1L), (2L, 9L, 1L), (3L, 9L, 1L)))
    assert(r(9L) > r(1L) * 3, s"sink ${r(9L)} should dominate a source ${r(1L)}")
    val total = r.values.sum
    // integer truncation leaks sub-ppm mass per round, nothing more
    assert(total > massFloor(0.999) && total <= Graphs.RankScale,
      s"mass not conserved: $total of ${Graphs.RankScale}")
  }

  private def massFloor(frac: Double): Long = (Graphs.RankScale * frac).toLong

  test("edge weights steer rank: heavier edge carries more mass") {
    // 0 splits 9:1 between 1 and 2; both return to 0
    // stationary solution: r1/r2 = (0.15/4 + 0.765·r0)/(0.15/4 + 0.085·r0)
    // with r0 ≈ 0.365 → ratio ≈ 4.6
    val r = ranks(Seq((0L, 1L, 9L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L)))
    assert(r(1L) > r(2L) * 4, s"9:1 split should separate ranks: ${r(1L)} vs ${r(2L)}")
  }

  test("multi-edges pre-sum: duplicate edge rows equal one summed edge") {
    val a = ranks(Seq((0L, 1L, 2L), (0L, 2L, 1L), (1L, 0L, 1L), (2L, 0L, 1L)))
    val b = ranks(Seq((0L, 1L, 1L), (0L, 1L, 1L), (0L, 2L, 1L),
      (1L, 0L, 1L), (2L, 0L, 1L)))
    assert(a === b)
  }

  test("deterministic across partitionings: 1 vs 32 shuffle partitions") {
    // withMaxRows(0) forces the distributed loop (a 200-edge graph takes
    // the driver path by default, where no shuffle runs). The rounds run
    // at the session's partition count, so the count varied here reaches
    // every round shuffle as well as the edge summing, shares and vertex
    // set built before the loop
    val edges = (0L until 200L).map(i => (i, (i * 7 + 3) % 200L, 1L + i % 5))
    def at(parts: String) = DriverLoop.withMaxRows(0L) {
      graft.Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> parts) {
        ranks(edges, iters = 5)
      }
    }
    val one = at("1")
    val many = at("32")
    assert(one === many, "fixed-point ranks must be partitioning-independent")
  }

  test("per-source weight overflow fails loudly") {
    val huge = Graphs.MaxSafeOutWeight
    val e = intercept[Exception] {
      ranks(Seq((0L, 1L, huge), (0L, 2L, huge), (1L, 0L, 1L), (2L, 0L, 1L)))
    }
    assert(e.getMessage != null)
  }

  test("empty edge list is rejected") {
    intercept[IllegalArgumentException] {
      Graphs.pagerank(Seq.empty[(Long, Long, Long)].toDF("src", "dst", "w"),
        "src", "dst", "w", 3)
    }
  }

  test("personalized pagerank: mass concentrates at the seed's neighborhood") {
    // two disjoint cycles; teleport to {0} must leave cycle {10,11,12}
    // with zero mass (unreachable, no restart lands there)
    val edges = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 0L, 1L),
      (10L, 11L, 1L), (11L, 12L, 1L), (12L, 10L, 1L))
    val r = Graphs.pagerank(edges.toDF("src", "dst", "w"), "src", "dst", "w",
        iterations = 12, teleport = Some(Seq(0L)))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(10L) === 0L && r(11L) === 0L && r(12L) === 0L,
      s"unreachable cycle must hold zero mass: $r")
    assert(r(0L) > r(1L) && r(1L) > r(2L),
      s"mass must decay with distance from the seed: $r")
    val total = r.values.sum
    assert(total > massFloor(0.999) && total <= Graphs.RankScale)
  }

  test("triangles: K4 has 3 per vertex; path has none; directions/loops collapse") {
    def tri(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graphs.triangles(edges.map { case (a, b) => (a, b, 1L) }.toDF("src", "dst", "w"),
        "src", "dst").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // K4: every vertex sits in C(3,2) = 3 triangles
    val k4 = for (i <- 0L to 3L; j <- 0L to 3L if i < j) yield (i, j)
    assert(tri(k4) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // a path has no triangles — and vertices with none are absent
    assert(tri(Seq((0L, 1L), (1L, 2L), (2L, 3L))) === Map.empty)
    // reversed duplicates and self-loops do not fabricate triangles
    val noisy = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 0L), (0L, 0L), (2L, 2L))
    assert(tri(noisy) === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("durable checkpoint path: identical ranks, superseded generations reclaimed") {
    val edges = (0L until 50L).map(i => (i, (i * 13 + 1) % 50L, 1L + i % 3))
    val dir = tempDir("graft_pr_ckpt").toString
    try {
      val local = ranks(edges, iters = 6)
      val durable = Graphs.pagerank(edges.toDF("src", "dst", "w"),
          "src", "dst", "w", 6, checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local === durable,
        "durable checkpoint() must produce the same fixed-point ranks")
      // the loop reclaims generation g-2 as it advances (7 ckpt calls:
      // init + 6 rounds) — at most the last two survive on disk
      val gens = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("gen-")).map(_.getName).sorted
      assert(gens.length <= 2, s"superseded generations not reclaimed: ${gens.mkString(",")}")
      assert(gens.contains("gen-6"), s"final generation checkpoint missing: ${gens.mkString(",")}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
        f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  private def core(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] =
    Graphs.kcore(edges.toDF("src", "dst"), "src", "dst", k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("kcore: K5 survives a 3-core, pendant chain peels, degrees are in-core") {
    val k5 = for (a <- 0L until 5L; b <- 0L until 5L if a < b) yield (a, b)
    // vertex 10 hangs off K5 by a single edge; 11-12-13 is a tail chain
    val edges = k5 ++ Seq((0L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    val got = core(edges, k = 3)
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L),
      s"3-core must be exactly the K5: $got")
    // degrees are measured IN the core: vertex 0's pendant edge is gone
    assert(got.values.toSet === Set(4L), s"in-core K5 degrees must all be 4: $got")
  }

  test("kcore: vertex clinging to K5 by 3 edges joins the 3-core") {
    val k5 = for (a <- 0L until 5L; b <- 0L until 5L if a < b) yield (a, b)
    val edges = k5 ++ Seq((20L, 0L), (20L, 1L), (20L, 2L))
    val got = core(edges, k = 3)
    assert(got.keySet === Set(0L, 1L, 2L, 3L, 4L, 20L))
    assert(got(20L) === 3L && got(0L) === 5L && got(3L) === 4L,
      s"in-core degrees wrong: $got")
  }

  test("kcore: over-demanding k peels everything (multi-round cascade to empty)") {
    // a long path: every round peels both endpoints; fixpoint is empty
    val path = (0L until 20L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(core(path, k = 2).isEmpty)
    // and the whole graph survives k = 1 untouched (first-round fixpoint)
    val all = core(path, k = 1)
    assert(all.keySet === (0L until 20L).toSet)
  }

  private def hubsAuths(edges: Seq[(Long, Long)], iters: Int = 4)
      : Map[Long, (Long, Long)] =
    Graphs.hits(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("hits: the broader supplier is the stronger hub, the shared part the stronger authority") {
    // s1 ships three parts, s2 ships one; part 100 is shipped by both
    val got = hubsAuths(Seq((1L, 100L), (1L, 101L), (1L, 102L), (2L, 100L)))
    assert(got(1L)._1 > got(2L)._1, s"s1 must out-hub s2: $got")
    assert(got(100L)._2 > got(101L)._2, s"shared part must out-rank: $got")
    assert(got(101L)._2 === got(102L)._2, s"symmetric parts must tie: $got")
    // pure sources have authority 0; pure sinks have hub 0
    assert(got(1L)._2 === 0L && got(100L)._1 === 0L)
    // each rescaled side carries total mass ~SCALE (floor-truncation only)
    val hubs = got.values.map(_._1).sum
    val auths = got.values.map(_._2).sum
    assert(hubs > Graphs.HitsScale - 10 && hubs <= Graphs.HitsScale, s"hub mass $hubs")
    assert(auths > Graphs.HitsScale - 10 && auths <= Graphs.HitsScale, s"auth mass $auths")
  }

  test("hits: a symmetric bipartite clique scores uniformly") {
    val edges = for (s <- 0L until 3L; p <- 10L until 14L) yield (s, p)
    val got = hubsAuths(edges)
    assert(got.filterKeys(_ < 3L).values.map(_._1).toSet.size === 1,
      s"hubs must tie: $got")
    assert(got.filterKeys(_ >= 10L).values.map(_._2).toSet.size === 1,
      s"authorities must tie: $got")
  }

  test("kcore: directions and duplicate edges collapse before peeling") {
    val tri = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 0L), (0L, 2L),
      (0L, 0L)) // self-loop dropped
    val got = core(tri, k = 2)
    assert(got === Map(0L -> 2L, 1L -> 2L, 2L -> 2L), s"triangle 2-core: $got")
  }

  test("labelPropagation: two cliques joined by a weak bridge split cleanly") {
    // cliques {0,1,2} and {10,11,12} with weight-5 internal edges and a
    // weight-1 bridge 2-10: LPA must label each clique by its min vertex
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b, 5L)
    val edges = (clique(Seq(0L, 1L, 2L)) ++ clique(Seq(10L, 11L, 12L)) :+
      (2L, 10L, 1L)).toDF("src", "dst", "w")
    val got = Graphs.labelPropagation(edges, "src", "dst", "w", rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, 2L).forall(got(_) == 0L), s"left clique: $got")
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L), s"right clique: $got")
  }

  test("labelPropagation: deterministic across partitionings") {
    val edges = (for (a <- 0L to 9L; b <- 0L to 9L if a != b && (a + b) % 3 == 0)
      yield (a, b, (a * 7 + b) % 5 + 1)).toDF("src", "dst", "w")
    def run() = Graphs.labelPropagation(edges, "src", "dst", "w", rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // withMaxRows(0) forces the distributed rounds (this graph takes the
    // driver path by default); LPA's rounds keep the session count, so
    // the varied count reaches every round shuffle
    DriverLoop.withMaxRows(0L) {
      val base = run()
      graft.Sessions.withConfs(spark, "spark.sql.shuffle.partitions" -> "1") {
        assert(run() === base, "LPA must not depend on partition count")
      }
    }
  }

  test("modularity closure: identity on the query's own accounting, and positive on real cliques") {
    // q_modularity invariants on sf0.01: |Q| <= 1 and the emitted
    // integers reproduce the rounded Q exactly
    val r = graft.SparkEntry.queries("q_modularity")(spark, "/root/testdata/sf0.01").head()
    val m2 = r.getLong(r.fieldIndex("m2"))
    val wi = r.getLong(r.fieldIndex("within_w"))
    val ds = r.getLong(r.fieldIndex("deg_sq"))
    val q = r.getDouble(r.fieldIndex("modularity"))
    assert(q >= -1.0 && q <= 1.0)
    val recomputed = (m2.toDouble * wi - ds) / (m2.toDouble * m2.toDouble)
    assert(math.abs(q - math.rint(recomputed * 1e6) / 1e6) < 1e-9)
    // and the formula itself scores a genuinely clustered graph positive:
    // two weight-5 cliques + weak bridge, LPA labels, same algebra
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b, 5L)
    val edges = (clique(Seq(0L, 1L, 2L)) ++ clique(Seq(10L, 11L, 12L)) :+
      (2L, 10L, 1L)).toDF("src", "dst", "w")
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .filter(col("src") =!= col("dst")).groupBy("src", "dst").agg(sum("w").as("w"))
    val labels = Graphs.labelPropagation(edges, "src", "dst", "w", rounds = 4)
    val la = labels.select(col("id").as("src"), col("lab").as("la"))
    val lb = labels.select(col("id").as("dst"), col("lab").as("lb"))
    val row = sym.join(la, "src").join(lb, "dst")
      .agg(sum(when(col("la") === col("lb"), col("w")).otherwise(0L)),
        sum(col("w"))).head()
    val (wi2, m22) = (row.getLong(0), row.getLong(1))
    val ds2 = sym.groupBy("src").agg(sum("w").as("d"))
      .join(labels.select(col("id").as("src"), col("lab")), "src")
      .groupBy("lab").agg(sum("d").as("dc"))
      .agg(sum(col("dc") * col("dc"))).head().getLong(0)
    val q2 = (m22.toDouble * wi2 - ds2) / (m22.toDouble * m22.toDouble)
    assert(q2 > 0.3, s"two-clique graph must score clearly positive, got $q2")
  }

  test("bfs: min-hop on a diamond with a shortcut; depth bound respected") {
    // 0->1->3, 0->2->3, 0->3 direct; 3->4->5 beyond the bound
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (0L, 3L),
      (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val got = Graphs.bfs(edges, "src", "dst", source = 0L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 2L),
      s"expected shortcut-min hops within bound 2, got $got")
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents: driver union-find equals star contraction on paths, cliques, and random graphs") {
    // paths are the adversarial case: diameter = n, where a per-hop
    // label loop needs n rounds but star contraction O(log n) — so the
    // 40-path runs at DEFAULT arguments on both paths
    val cases: Seq[(String, Seq[(Long, Long)])] = Seq(
      "long path" -> (1L to 40L).sliding(2).map(s => (s(1), s(0))).toSeq,
      "two cliques + singleton self-pair" ->
        ((for (a <- 10L to 14L; b <- (a + 1) to 14L) yield (a, b)) ++
         (for (a <- 20L to 23L; b <- (a + 1) to 23L) yield (b, a)) ++
         Seq((99L, 99L))),
      "cycle" -> ((1L to 12L).sliding(2).map(s => (s(0), s(1))).toSeq :+ (12L, 1L)),
      // deterministic pseudo-random sparse graph: 60 nodes, 55 edges
      "random sparse" -> (1 to 55).map { i =>
        val a = (i * 2654435761L % 60) + 1
        val b = (i * 40503L % 60) + 1
        (a, b)
      })
    for ((name, pairs) <- cases) {
      // reference labels: in-memory min-label propagation to its fixpoint
      val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      var want = ids.map(i => i -> i).toMap
      var moved = true
      while (moved) {
        val next = pairs.foldLeft(want) { case (m, (a, b)) =>
          val l = math.min(m(a), m(b)); m.updated(a, l).updated(b, l)
        }
        moved = next != want
        want = next
      }
      val df = pairs.toDF("id_a", "id_b")
      val driver = labelsOf(Dedup.connectedComponents(df))
      assert(driver === want, s"$name: driver union-find labels are not min-id labels")
      val star = DriverLoop.withMaxRows(0L)(labelsOf(Dedup.connectedComponents(df)))
      assert(star === driver, s"$name: star-contraction labels diverge from driver union-find")
    }
  }

  test("connectedComponents labels every component by its minimum id on both paths") {
    val pairs = Seq((5L, 3L), (3L, 9L), (20L, 21L)).toDF("id_a", "id_b")
    val want = Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L)
    assert(labelsOf(Dedup.connectedComponents(pairs)) === want)
    assert(DriverLoop.withMaxRows(0L)(labelsOf(Dedup.connectedComponents(pairs))) === want)
  }

  test("connectedComponents rejects non-integral ids; empty and self-pair-only graphs behave") {
    val bad = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](Dedup.connectedComponents(bad))
    assert(e.getMessage.contains("integral id type"))
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() === 0L)
    // a self-pair is one undirected edge, over a bound of 0: the star
    // rounds run on an empty canonical edge set and still label the id
    val selfOnly = Seq((7L, 7L)).toDF("id_a", "id_b")
    assert(DriverLoop.withMaxRows(0L)(labelsOf(Dedup.connectedComponents(selfOnly))) ===
      Map(7L -> 7L))
  }
}
