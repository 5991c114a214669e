package graft

import graft.functions.{Cleaning, TextAnalysis}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5.4): invariants that must hold for any
  * input, not just the golden fixtures. Raw ScalaCheck Gen with a seeded
  * sampler (the scalatest bridge isn't in the offline cache). */
class PropertiesSpec extends SparkSpec {

  private def forAll[A](gen: Gen[A], reps: Int = 8)(f: A => Unit): Unit =
    (1 to reps).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  private def evalOn(values: Seq[String], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Any] = {
    import spark.implicits._
    values.map(Option(_)).toDF("c").select(f(col("c")).as("r")).collect().map(_.get(0)).toSeq
  }

  test("GramMatrix matches a plain Scala fold on random corpora") {
    import spark.implicits._
    val gen = for {
      d <- Gen.chooseNum(1, 6)
      n <- Gen.chooseNum(1, 40)
      rows <- Gen.listOfN(n, Gen.listOfN(d, Gen.chooseNum(-3.0, 3.0)))
    } yield rows
    forAll(gen, reps = 6) { rows =>
      val d = rows.head.size
      val n = rows.size
      val got = rows.map(_.toArray).toDF("v")
        .select($"v".cast("array<double>").as("v"))
        .agg(graft.expressions.GramMatrix.gram($"v").as("g"))
        .select(org.apache.spark.sql.functions.inline($"g"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(4))).toMap
      assert(got.size === d * (d + 1) / 2)
      def mean(i: Int) = math.floor(
        rows.map(v => math.floor(v(i - 1) * 1e6 + 0.5).toLong).sum.toDouble / n + 0.5) / 1e6
      for (i <- 1 to d; j <- i to d) {
        val m2 = math.floor(rows.map(v =>
          math.floor(v(i - 1) * v(j - 1) * 1e6 + 0.5).toLong).sum.toDouble / n + 0.5) / 1e6
        val cov = math.floor((m2 - mean(i) * mean(j)) * 1e6 + 0.5) / 1e6
        assert(got((i, j)) === ((n.toLong, cov)), s"cell ($i,$j) of d=$d n=$n")
      }
    }
  }

  test("priceBucket is total: every double lands in exactly one bucket") {
    import spark.implicits._
    forAll(Gen.listOfN(50, Gen.option(Gen.chooseNum(-1e9, 1e9)))) { xs =>
      val buckets = xs.map(x => Option(x).flatten).toDF("p")
        .select(Cleaning.priceBucket(col("p")).as("b")).collect().map(_.getString(0))
      assert(buckets.forall(Set("Unknown", "Low (<10k)", "Mid (10k-50k)", "High (50k+)")))
      assert(buckets.length == xs.length)
    }
  }

  test("winsorize clip stays within bounds and preserves nulls") {
    import spark.implicits._
    val gen = for {
      xs <- Gen.listOfN(40, Gen.option(Gen.chooseNum(-1e6, 1e6)))
      lo <- Gen.chooseNum(-1e5, 0.0)
      hi <- Gen.chooseNum(0.0, 1e5)
    } yield (xs, lo, hi)
    forAll(gen) { case (xs, lo, hi) =>
      whenever(lo <= hi) {
        val clip = when(col("p").isNull, lit(null).cast("double"))
          .otherwise(least(greatest(col("p"), lit(lo)), lit(hi)))
        val out = xs.map(x => Option(x).flatten).toDF("p").select(clip.as("c"))
          .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
        out.zip(xs.map(Option(_).flatten)).foreach {
          case (Some(c), Some(_)) => assert(c >= lo && c <= hi)
          case (None, None)       => ()
          case other              => fail(s"null mismatch: $other")
        }
      }
    }
  }

  test("cleanText is idempotent") {
    val gen = Gen.listOfN(30, Gen.oneOf(
      Gen.alphaNumStr, Gen.const("  a   b "), Gen.const("NaN"),
      Gen.const("null"), Gen.const(""), Gen.const(" x\t y ")))
    forAll(gen) { xs =>
      val once = evalOn(xs, Cleaning.cleanText)
      val twice = evalOn(once.map(_.asInstanceOf[String]), Cleaning.cleanText)
      assert(once === twice)
    }
  }

  test("parsed price is non-negative and unit is alphabetic") {
    forAll(Gen.listOfN(20, Gen.oneOf(
      Gen.choose(0, 2000000).map(n => s"₹ $n/Piece"),
      Gen.const("Ask Price"), Gen.alphaNumStr))) { xs =>
      evalOn(xs, Cleaning.parsePriceToNumber).foreach {
        case null      => ()
        case d: Double => assert(d >= 0)
        case other     => fail(other.toString)
      }
      evalOn(xs, Cleaning.extractPriceUnit).foreach {
        case null      => ()
        case s: String => assert(s.matches("[A-Za-z]+"))
        case other     => fail(other.toString)
      }
    }
  }

  test("fingerprint invariance: case/whitespace/punct-insensitive") {
    import spark.implicits._
    forAll(Gen.listOfN(10, Gen.nonEmptyListOf(Gen.alphaLowerStr.suchThat(_.nonEmpty))
      .map(_.mkString(" ")))) { texts =>
      val variants = texts.map(t => (t, t.toUpperCase + "  ", t.replace(" ", " ,  ")))
      val df = variants.toDF("a", "b", "c")
      val rows = df.select(
        TextAnalysis.fingerprint(col("a")).as("fa"),
        TextAnalysis.fingerprint(col("b")).as("fb"),
        TextAnalysis.fingerprint(col("c")).as("fc")).collect()
      rows.foreach { r =>
        assert(r.getString(0) === r.getString(1))
        assert(r.getString(0) === r.getString(2))
      }
    }
  }

  test("native text-hash kernels match declarative twins on arbitrary text") {
    import spark.implicits._
    // mixed-content strings: words, unicode, digits, punctuation runs,
    // empties — the kernel and the HOF formulation must agree on ALL
    val word = Gen.oneOf(Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("héllo", "мир", "世界", "a-b.c", "  ", "", "x!y?z", "123"))
    val text = Gen.listOfN(30, word).map(_.mkString(" "))
    forAll(Gen.listOfN(12, text), reps = 4) { texts =>
      val df = texts.toDF("text")
      val rows = df.select(
          sort_array(graft.expressions.TextHashExprs.shingleHashes64(
            TextAnalysis.tokens(col("text")), 3)).as("native_sh"),
          sort_array(array_distinct(
            TextAnalysis.shingleHashes(col("text"), 3))).as("decl_sh"),
          graft.expressions.TextHashExprs.simhashChunks(
            TextAnalysis.tokens(col("text"))).as("native_sk"),
          graft.operators.Dedup.simhashChunksDeclarative(col("text")).as("decl_sk"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1))
        assert(r.getSeq[Long](2) === r.getSeq[Long](3))
      }
    }
  }

  test("winnowing fingerprints are always a non-empty subset of the shingle set") {
    import spark.implicits._
    val text = Gen.listOfN(25, Gen.alphaNumStr.map(_.take(6))).map(_.mkString(" "))
    forAll(Gen.listOfN(10, text), reps = 4) { texts =>
      val rows = texts.toDF("text").select(
          graft.expressions.TextHashExprs.winnowFingerprints(
            TextAnalysis.tokens(col("text")), 3, 4).as("fp"),
          graft.expressions.TextHashExprs.shingleHashes64(
            TextAnalysis.tokens(col("text")), 3).as("sh"))
        .collect()
      rows.foreach { r =>
        val fp = r.getSeq[Long](0)
        val sh = r.getSeq[Long](1).toSet
        assert(fp.nonEmpty && fp.forall(sh.contains))
      }
    }
  }

  test("redactPii leaves no email-shaped or 12-digit substring behind") {
    import graft.functions.Redaction
    val local = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val gen = for {
      l <- local; d <- local; tld <- Gen.listOfN(3, Gen.alphaChar).map(_.mkString)
      digits <- Gen.listOfN(12, Gen.numChar).map(_.mkString)
      pre <- Gen.alphaStr; post <- Gen.alphaStr
    } yield s"$pre $l@$d.$tld $digits $post"
    forAll(gen) { s =>
      val out = evalOn(Seq(s), Redaction.redactPii).head.asInstanceOf[String]
      assert(!out.matches(s".*${Redaction.EmailPattern}.*"), s"email survives: $out")
      assert(!out.matches(".*[0-9]{12}.*"), s"12-digit run survives: $out")
      assert(out.contains("[EMAIL]") && out.contains("[ID]"))
    }
  }

  test("chunking is total and loss-free for any token list under (size, stride)") {
    import spark.implicits._
    // stride depends on size (no filter: a filtered Gen yields None and
    // the seeded sampler would silently skip that rep)
    val gen = for {
      n <- Gen.chooseNum(0, 200)
      size <- Gen.chooseNum(1, 64)
      stride <- Gen.chooseNum(1, size)
    } yield (n, size, stride)
    forAll(gen, reps = 12) { case (n, size, stride) =>
      val toks = (1 to n).map(i => s"t$i")
      val df = Seq(Tuple1(toks)).toDF("toks")
        .withColumn("nc", TextAnalysis.chunkCount(col("toks"), size, stride))
        .withColumn("idx", explode(sequence(lit(0), col("nc") - 1)))
        .withColumn("piece", TextAnalysis.chunkAt(col("toks"), col("idx"), size, stride))
      val pieces = df.select(col("piece")).collect().map(_.getSeq[String](0))
      assert(pieces.nonEmpty) // ≥1 chunk even for the empty list
      assert(pieces.forall(_.length <= size))
      // loss-free: the union of chunks is exactly the token set
      assert(pieces.flatten.toSet == toks.toSet, s"n=$n size=$size stride=$stride")
    }
  }

  test("profile invariant: non_null + nulls = rows for any frame") {
    import spark.implicits._
    forAll(Gen.listOfN(25, Gen.option(Gen.alphaStr))) { xs =>
      val prof = quality.Profiler.profile(xs.toDF("v"))
      prof.collect().foreach { r =>
        assert(r.getAs[Long]("non_null") + r.getAs[Long]("nulls") === r.getAs[Long]("rows"))
        assert(r.getAs[Long]("unique") <= r.getAs[Long]("non_null"))
      }
    }
  }
}
