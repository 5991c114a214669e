package graft.operators

import graft.SparkSpec

/** Reference-sequence checks for the iterative BPE learner: known tiny
  * vocabularies with hand-computed merge sequences, including the
  * left-to-right overlap rule and the exhaustion stop. */
class BpeSpec extends SparkSpec {

  private def learn(words: Seq[(String, Long)], rounds: Int) = {
    import spark.implicits._
    Bpe.learnMerges(words.toDF("word", "freq"), "word", "freq", rounds)
      .orderBy("rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
  }

  test("hand-computed merge sequence on {aaab:3, ab:2}") {
    // r1: 'a a' appears at 2 positions/word × 3 = 6, 'a b' = 3+2 = 5
    // r2: after ' aa a b ', 'a b' = 5 beats 'aa a' = 3
    // r3: ' aa ab ' leaves only 'aa ab' = 3
    assert(learn(Seq(("aaab", 3L), ("ab", 2L)), 10) === Seq(
      (1, "a a", "aa", 6L),
      (2, "a b", "ab", 5L),
      (3, "aa ab", "aaab", 3L)))
  }

  test("overlapping pair merges left-to-right: aaa -> 'aa a', not 'a aa'") {
    assert(learn(Seq(("aaa", 1L)), 10) === Seq(
      (1, "a a", "aa", 2L), // both adjacent positions counted
      (2, "aa a", "aaa", 1L))) // left-to-right: first two merged first
  }

  test("tie-break is lexicographic on the pair string") {
    // 'ab' and 'cd' both have one pair with weight 1 — 'a b' < 'c d'
    val m = learn(Seq(("ab", 1L), ("cd", 1L)), 1)
    assert(m === Seq((1, "a b", "ab", 1L)))
  }

  test("exhaustion stops early and single-symbol words contribute no pairs") {
    val m = learn(Seq(("ab", 5L)), 10)
    assert(m === Seq((1, "a b", "ab", 5L)), "one merge then no pairs left")
  }

  test("driver vocab loop equals the distributed per-round loop merge-for-merge") {
    import spark.implicits._
    // enough structure for 10 real rounds: skewed frequencies, shared
    // prefixes, ties, words that exhaust at different depths
    val words = Seq(("lowest", 7L), ("lower", 11L), ("low", 20L),
      ("newest", 9L), ("newer", 5L), ("new", 13L), ("widest", 3L),
      ("wide", 8L), ("ab", 2L), ("ba", 2L))
    def run(gate: Long) = DriverLoop.withMaxRows(gate) {
      Bpe.learnMerges(words.toDF("word", "freq"), "word", "freq", 10)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }
    assert(run(DriverLoop.MaxRows) === run(0L))
  }
}
