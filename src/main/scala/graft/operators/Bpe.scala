package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative byte-pair-encoding merge learning (Sennrich et al. '16)
  * over a weighted word vocabulary: each round counts adjacent symbol
  * pairs across the vocab (weighted by word frequency), merges the most
  * frequent pair everywhere, and repeats. q_bpe_merges surfaces round
  * ONE's candidate table; this runs the actual sequential algorithm.
  *
  * Scale story: after the one corpus-sized token rollup, everything
  * operates on the VOCAB relation (distinct words × frequency — millions
  * of rows for a web corpus, never the corpus itself). Each round is one
  * explode + partial-aggregated rollup + a 1-ROW argmax handoff to the
  * driver (the chosen pair — same bounded-handoff pattern as
  * q_heavy_hitters' candidate list), then a map-side replace. Rounds are
  * sequential BY DEFINITION (merge r+1 counts pairs that only exist
  * after merge r applies); the loop is bounded by `rounds`.
  *
  * Representation: a word's symbol sequence is a SPACE-SENTINEL string
  * " a b c " — pair replacement is then plain string replace of
  * " left right " with " merged ", which (a) can never match across a
  * symbol boundary (the sentinel spaces pin both edges) and (b) resolves
  * overlapping occurrences left-to-right exactly like reference BPE
  * ("a a a" merges to "aa a", not "a aa"). Both engines' replace() scans
  * left-to-right continuing after each replacement, so a SQL oracle
  * reproduces the merge sequence bit-for-bit.
  */
object Bpe {

  /** Space-sentinel symbolization of a word column: " a b c ". */
  def symbolize(wordColName: String): org.apache.spark.sql.Column =
    concat(lit(" "),
      array_join(expr(
        s"transform(sequence(1, length($wordColName)), i -> substring($wordColName, i, 1))"), " "),
      lit(" "))

  /** Apply a learned merge list (rank order!) to a symbolized column —
    * a pure MAP-SIDE replace chain: the merge table rides into the plan
    * as `rounds` string literals, so encoding a 100 TB token stream is
    * shuffle-free. In practice encode the DISTINCT vocabulary once and
    * broadcast-join the symbol counts back to the stream (q_bpe_encode
    * does exactly that) — encode cost then scales with the vocabulary,
    * not the corpus. */
  def applyMerges(sym: org.apache.spark.sql.Column,
      merges: Seq[(String, String)]): org.apache.spark.sql.Column =
    merges.foldLeft(sym) { case (c, (pair, merged)) =>
      org.apache.spark.sql.functions.replace(c, lit(s" $pair "), lit(s" $merged "))
    }

  /** Binary (UTF-8 byte) string order — what Spark's UTF8String and
    * DuckDB compare. Identical to Java order on ASCII; differs on
    * supplementary characters, so the driver argmax uses THIS, never
    * String.compareTo, and the two-path equality holds for any input. */
  private[graft] def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Learn `rounds` merges from (wordCol, freqCol); returns the merge
    * table (rank, pair, merged, n_pair) — fewer than `rounds` rows if
    * the vocabulary runs out of pairs first. The vocab relation is
    * cached across rounds ([[Caches]]); each round adds one projection
    * to its plan (no joins), so lineage stays linear in `rounds`.
    *
    * Vocabularies of at most [[DriverLoop.maxRows]] distinct words take
    * the identical merge walk in driver maps instead of one
    * rollup-and-collect job per round (the corpus rollup that produces
    * the vocab always runs distributed): same Long pair counts
    * (addition commutes), same (count desc, pair asc) argmax — ties
    * compared in UTF-8 byte order ([[utf8Less]]), exactly Spark's
    * UTF8String order on ANY alphabet — and the same left-to-right
    * continue-after-replacement replace semantics (Java String.replace
    * ≡ Spark/DuckDB replace, the property the space-sentinel encoding
    * already relies on). BpeSpec pins the two paths merge-for-merge
    * equal. */
  def learnMerges(
      words: DataFrame, wordCol: String, freqCol: String, rounds: Int): DataFrame = {
    require(rounds > 0, s"rounds=$rounds must be positive")
    val spark = words.sparkSession
    var vocab = Caches.register(words.select(
      concat(lit(" "),
        array_join(expr(
          s"transform(sequence(1, length($wordCol)), i -> substring($wordCol, i, 1))"), " "),
        lit(" ")).as("sym"),
      col(freqCol).cast("long").as("n")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    if (vocab.count() <= DriverLoop.maxRows) {
      var cur = vocab.collect().map(r => (r.getString(0), r.getLong(1)))
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        cur.foreach { case (sym, n) =>
          val parts = sym.trim.split(" ")
          var j = 0
          while (j < parts.length - 1) {
            val p = parts(j) + " " + parts(j + 1)
            counts.update(p, counts.getOrElse(p, 0L) + n)
            j += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          var pair: String = null
          var cnt = Long.MinValue
          counts.foreach { case (p, c) =>
            if (pair == null || c > cnt || (c == cnt && utf8Less(p, pair))) {
              pair = p; cnt = c
            }
          }
          val merged = pair.replace(" ", "")
          merges += ((r, pair, merged, cnt))
          val (needle, repl) = (s" $pair ", s" $merged ")
          cur = cur.map { case (sym, n) => (sym.replace(needle, repl), n) }
          r += 1
        }
      }
    } else {
      var r = 1
      var exhausted = false
      while (r <= rounds && !exhausted) {
        val top = vocab
          .withColumn("_s", split(trim(col("sym")), " "))
          .select(col("n"), explode(when(size(col("_s")) >= 2,
              expr("transform(sequence(0, size(_s) - 2), " +
                "j -> concat(element_at(_s, j + 1), ' ', element_at(_s, j + 2)))"))
            .otherwise(expr("array()").cast("array<string>"))).as("pair"))
          .groupBy(col("pair")).agg(sum(col("n")).as("c"))
          .orderBy(col("c").desc, col("pair")).limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          val cnt = top(0).getLong(1)
          val merged = pair.replace(" ", "")
          merges += ((r, pair, merged, cnt))
          // symbols are [a-z0-9] by tokenizer construction — safe to inline
          vocab = Caches.register(
            vocab.withColumn("sym", expr(s"replace(sym, ' $pair ', ' $merged ')")))
          r += 1
        }
      }
    }
    spark.createDataFrame(merges.toSeq)
      .toDF("rank", "pair", "merged", "n_pair")
  }
}
