package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Text-analysis operator family for large-scale training-data pipelines
  * (the generalization of the reference's token report, SURVEY.md F19):
  * tokenization, token counting, quality scoring, language-ID, document
  * fingerprinting.
  *
  * All pure Column expressions — codegen'd, no UDFs, no shuffles; each
  * runs map-side over 100 TB of documents and only the (tiny) aggregates
  * shuffle.
  */
object TextAnalysis {

  /** Lowercase alnum tokens (the tokenizer behind
    * reports/top_product_tokens.csv — verified `[a-z0-9]+`). */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => t =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Whitespace token count (the cheap pre-pass). */
  def wsTokenCount(c: Column): Column =
    when(trim(c) === "", 0).otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish piece count: alpha runs, single digits, single punctuation —
    * a regex approximation of GPT-2-style pre-tokenization for budgeting
    * token costs without a vocab. */
  def bpeIshTokenCount(c: Column): Column =
    coalesce(regexp_count(c, lit("[A-Za-z]+|\\d|[^A-Za-z\\d\\s]")), lit(0))

  def punctRatio(c: Column): Column =
    coalesce(regexp_count(c, lit("[^\\w\\s]")), lit(0)).cast(DoubleType) /
      greatest(length(c), lit(1)).cast(DoubleType)

  /** Fraction of tokens found in `stops`. */
  def stopwordRatio(c: Column, stops: Seq[String]): Column = {
    val ts = tokens(c)
    size(filter(ts, t => t.isin(stops: _*))).cast(DoubleType) /
      greatest(size(ts), lit(1)).cast(DoubleType)
  }

  /** Small high-frequency stopword sets per language — enough signal for
    * n-gram-free heuristic language-ID. */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for", "on", "with", "as", "was", "at"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu", "mit", "den", "von", "sich", "auf", "für"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "una", "es", "por", "con", "no", "los", "las", "para"),
    "fr" -> Seq("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour", "dans", "qui", "pas", "sur", "avec"))

  /** CJK character ratio — the zh signal (script-based, not lexical). */
  def cjkRatio(c: Column): Column =
    coalesce(regexp_count(c, lit("[\\x{4e00}-\\x{9fff}]")), lit(0)).cast(DoubleType) /
      greatest(length(c), lit(1)).cast(DoubleType)

  /** Per-language scores: stopword-hit ratio for latin-script languages,
    * CJK char ratio for zh. Returns (lang -> score Column). */
  def langScores(c: Column): Seq[(String, Column)] =
    Stopwords.toSeq.sortBy(_._1).map { case (l, stops) => l -> stopwordRatio(c, stops) } :+
      ("zh" -> cjkRatio(c))

  /** Composite quality score in [0,1] (length / punctuation / stopword
    * signals, the reference-free analogue of data-quality scoring for
    * training corpora):
    *  - length in a useful band (50..10000 chars)
    *  - some stopwords present (natural language, not code/logs)
    *  - punctuation not dominating. */
  def qualityScore(c: Column, stops: Seq[String] = Stopwords("en")): Column = {
    val len = length(c).cast(DoubleType)
    val lenScore = least(len / 50.0, lit(1.0)) * when(len > 10000, 0.5).otherwise(1.0)
    val stopScore = least(stopwordRatio(c, stops) * lit(4.0), lit(1.0))
    val punctScore = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 4.0)
    round(lenScore * 0.4 + stopScore * 0.3 + punctScore * 0.3, 6)
  }

  /** The five Gopher-style quality-rule BITS as (name, 0/1 column) —
    * the single source of truth composed by q_gopher_filter (per-rule
    * kill-rate report) and the curation pipeline (conjunction). A
    * threshold tuned here reaches both; their oracle SQL must follow in
    * lockstep. */
  def gopherRuleBits(c: Column): Seq[(String, Column)] = {
    val toks = tokens(c)
    val nToks = greatest(size(toks), lit(1))
    val meanLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      .cast(DoubleType) / nToks
    val stops = stopwordRatio(c, Stopwords("en"))
    val positions = when(size(toks) < 5, 1).otherwise(size(toks) - 4)
    val uniqRatio = size(graft.expressions.TextHashExprs.shingleHashes64(toks, 5))
      .cast(DoubleType) / positions
    val ws = wsTokenCount(c)
    Seq(
      "r_len" -> (ws >= 30 && ws <= 50000).cast(IntegerType),
      "r_mean_len" -> (meanLen >= 2.0 && meanLen <= 12.0).cast(IntegerType),
      "r_stop" -> (stops >= 0.02).cast(IntegerType),
      "r_uniq" -> (uniqRatio >= 0.3).cast(IntegerType),
      "r_sym" -> (punctRatio(c) <= 0.1).cast(IntegerType))
  }

  /** Conjunction of [[gopherRuleBits]] as a 0/1 keep bit. */
  def gopherKeepBit(c: Column): Column = gopherRuleBits(c).map(_._2).reduce(_ * _)

  /** 0/1 gate: the rounded-argmax language-ID predicts 'en' — the exact
    * q_lang_id contract (6dp-rounded scores, de-before-en tie order,
    * 'und' when every score is zero). */
  def langGateEn(c: Column): Column = {
    val scores = langScores(c).map { case (l, s) => l -> round(s, 6) }
    val best = scores.map(_._2).reduce(greatest(_, _))
    val m = scores.toMap
    (best =!= 0.0 && !(m("de") === best) && m("en") === best).cast(IntegerType)
  }

  /** Normalized-content fingerprint: md5 of the space-joined token stream.
    * Robust to case/punctuation/whitespace differences — the exact-dedup
    * key. */
  def fingerprint(c: Column): Column = md5(concat_ws(" ", tokens(c)))

  /** Word k-shingles (distinct), the unit for Jaccard/MinHash dedup. */
  def shingles(c: Column, k: Int): Column = {
    val ts = tokens(c)
    val n = size(ts)
    array_distinct(
      when(n < k, array(concat_ws(" ", ts)))
        .otherwise(transform(sequence(lit(0), n - k),
          i => concat_ws(" ", slice(ts, i + 1, lit(k))))))
  }

  /** 64-bit rolling-hash fingerprints of the k-shingles (xxhash64). */
  def shingleHashes(c: Column, k: Int): Column =
    transform(shingles(c, k), s => xxhash64(s))

  /** Number of fixed-stride chunks covering a token array: 1 chunk when
    * the array fits in `size` tokens, plus one per `stride` beyond that
    * (the final chunk may be short). Always ≥ 1 — an empty array still
    * yields one (empty) chunk, keeping per-doc chunk accounting total. */
  def chunkCount(toks: Column, size: Int, stride: Int): Column = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride=$stride <= size=$size (stride > size would skip tokens)")
    greatest(ceil((org.apache.spark.sql.functions.size(toks) - lit(size))
      .cast(DoubleType) / stride).cast("int"), lit(0)) + 1
  }

  /** The `idx`-th (0-based) chunk of a token array under (size, stride)
    * windowing: tokens [idx·stride, idx·stride + size). */
  def chunkAt(toks: Column, idx: Column, size: Int, stride: Int): Column =
    slice(toks, idx * stride + 1, lit(size))
}
