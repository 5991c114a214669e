package graft.analytics

import graft.{GraftQuery, Tables}
import graft.functions.TextAnalysis
import graft.operators.{Bloom, DriverLoop}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

/** Training-data-pipeline operators beyond the dedup/similarity family:
  * PII redaction, fixed-stride chunking with chunk-level dedup, composed
  * quality-rule filtering (Gopher-style), corpus length histograms,
  * URL-domain rollups, and Bloom-prefiltered decontamination.
  *
  * All map-side expression work except the (tiny) final aggregates —
  * each of these runs over 100 TB of documents with one shuffle or none.
  *
  * Oracle notes: the testdata carries no PII or URLs, so q_pii_redact /
  * q_url_domains SYNTHESIZE their input deterministically from table
  * columns — in BOTH engines, from the same columns — and then verify
  * the extraction/redaction math on it. The operators under test are the
  * regex pipelines, not the synthesis.
  */
object PipelineQueries {

  /** PII redaction: mask emails, long digit IDs, and phone numbers.
    * The masking chain is ordered most-specific-first (emails carry
    * digits; IDs are longer than phone bodies) so each rule sees only
    * what earlier rules left. Pure regexp_replace — codegen'd,
    * shuffle-free. */
  val qPiiRedact = GraftQuery(
    "q_pii_redact",
    (s, dir) => {
      import s.implicits._
      val digits10 = lpad(((($"c_custkey" * 7919) + 12345) % 10000000000L).cast("string"), 10, "0")
      val digits12 = lpad((($"c_custkey" * 104729 + 7) % 1000000000000L).cast("string"), 12, "0")
      val raw = concat(
        lit("Contact "), $"c_name",
        lit(" <user"), $"c_custkey".cast("string"), lit("@mail.example.com> or call +91 "),
        digits10, lit(" id "), digits12, lit(" end"))
      Tables.customer(s, dir)
        .select($"c_custkey",
          graft.functions.Redaction.redactPii(raw).as("redacted"),
          graft.functions.Redaction.emailCount(raw).as("n_emails"),
          graft.functions.Redaction.longDigitRunCount(raw).as("n_digit_runs"))
        .orderBy($"c_custkey")
    },
    Some("""WITH t AS (SELECT c_custkey,
        'Contact ' || c_name || ' <user' || CAST(c_custkey AS VARCHAR) || '@mail.example.com> or call +91 '
          || lpad(CAST((c_custkey * 7919 + 12345) % 10000000000 AS VARCHAR), 10, '0')
          || ' id ' || lpad(CAST((c_custkey * 104729 + 7) % 1000000000000 AS VARCHAR), 12, '0')
          || ' end' AS raw
      FROM customer)
      SELECT c_custkey,
        regexp_replace(
          regexp_replace(
            regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
            '\+[0-9][0-9 \-]{7,}[0-9]', '[PHONE]', 'g'),
          '[0-9]{12}', '[ID]', 'g') AS redacted,
        CAST(LEN(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        CAST(LEN(regexp_extract_all(raw, '[0-9]{10,}')) AS INT) AS n_digit_runs
      FROM t ORDER BY c_custkey""")
  )

  /** Fixed-stride token chunking (size 32, stride 24 — 8-token overlap)
    * with chunk-level exact-dup counts: the standard pre-training prep
    * step of splitting documents into model-window pieces, then deduping
    * at CHUNK granularity (boilerplate repeats chunk-wise even when the
    * enclosing docs differ). Explode is per-chunk, not per-token; the
    * only shuffle is the md5-fingerprint dup-count. */
  val qChunkDedup = GraftQuery(
    "q_chunk_dedup",
    (s, dir) => {
      import s.implicits._
      val chunk = 32
      val stride = 24
      val extra = TextAnalysis.chunkCount($"toks", chunk, stride) - 1
      val piece = TextAnalysis.chunkAt($"toks", $"chunk_idx", chunk, stride)
      Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
        .withColumn("chunk_idx", explode(sequence(lit(0), extra)))
        .select($"doc_id", $"chunk_idx",
          size(piece).as("n_tokens"),
          md5(array_join(piece, " ")).as("fp"))
        .withColumn("n_dup", count(lit(1)).over(Window.partitionBy($"fp")))
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      c AS (SELECT doc_id, ts,
        GREATEST(CAST(CEIL((LEN(ts) - 32) / 24.0) AS INT), 0) AS extra FROM t),
      e AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        ts[i*24 + 1 : i*24 + 32] AS piece
        FROM c, UNNEST([j FOR j IN range(0, extra + 1)]) AS u(i))
      SELECT doc_id, chunk_idx, CAST(LEN(piece) AS INT) AS n_tokens,
        md5(array_to_string(piece, ' ')) AS fp,
        COUNT(*) OVER (PARTITION BY md5(array_to_string(piece, ' '))) AS n_dup
      FROM e ORDER BY doc_id, chunk_idx""")
  )

  /** Gopher-style composed quality filter: each heuristic rule emitted as
    * its own 0/1 column plus the conjunction — pipelines tune thresholds
    * by inspecting PER-RULE kill rates, so the breakdown is the product,
    * not just the keep bit. Reuses the exact formulas of q_text_stats /
    * q_repetition (oracle-proven) plus a mean-token-length rule. */
  val qGopherFilter = GraftQuery(
    "q_gopher_filter",
    (s, dir) => {
      import s.implicits._
      val bits = TextAnalysis.gopherRuleBits($"text")
      Tables.documents(s, dir)
        .select(($"doc_id" +: bits.map { case (n, c) => c.as(n) } :+
          bits.map(_._2).reduce(_ * _).as("keep")): _*)
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id, text, toks,
        CASE WHEN TRIM(text) = '' THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ws,
        CAST(COALESCE(list_sum(list_transform(toks, x -> LENGTH(x))), 0) AS DOUBLE) / GREATEST(LEN(toks), 1) AS mean_len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(list_distinct(CASE WHEN LEN(toks) < 5 THEN [array_to_string(toks, ' ')]
          ELSE [array_to_string(toks[i+1:i+5], ' ') FOR i IN range(0, LEN(toks)-4)] END)) AS DOUBLE)
          / (CASE WHEN LEN(toks) < 5 THEN 1 ELSE LEN(toks) - 4 END) AS uniq_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      r AS (SELECT doc_id,
        CAST(ws >= 30 AND ws <= 50000 AS INT) AS r_len,
        CAST(mean_len >= 2.0 AND mean_len <= 12.0 AS INT) AS r_mean_len,
        CAST(stop_ratio >= 0.02 AS INT) AS r_stop,
        CAST(uniq_ratio >= 0.3 AS INT) AS r_uniq,
        CAST(punct_ratio <= 0.1 AS INT) AS r_sym
      FROM m)
      SELECT doc_id, r_len, r_mean_len, r_stop, r_uniq, r_sym,
        r_len * r_mean_len * r_stop * r_uniq * r_sym AS keep
      FROM r ORDER BY doc_id""")
  )

  /** Corpus length histogram: doc counts per 16-token bucket of the
    * whitespace token count — the first chart every data run looks at.
    * Map-side bin + one tiny rollup shuffle. */
  val qDocLengthHist = GraftQuery(
    "q_doc_length_hist",
    (s, dir) => {
      import s.implicits._
      val ws = TextAnalysis.wsTokenCount($"text")
      Tables.documents(s, dir)
        .select(floor(ws / lit(16.0)).cast(IntegerType).as("bin"))
        .groupBy($"bin")
        .agg(count(lit(1)).as("n_docs"))
        .select($"bin", ($"bin" * 16).as("lo"), ($"bin" * 16 + 15).as("hi"), $"n_docs")
        .orderBy($"bin")
    },
    Some("""WITH t AS (SELECT CAST(FLOOR(
        (CASE WHEN TRIM(text) = '' THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END) / 16.0) AS INT) AS bin
      FROM documents)
      SELECT bin, bin * 16 AS lo, bin * 16 + 15 AS hi, COUNT(*) AS n_docs
      FROM t GROUP BY bin ORDER BY bin""")
  )

  /** URL host / registrable-domain rollup: the grouping key of
    * URL-level filtering and per-site quotas in web-scale corpora.
    * URLs are synthesized from (source, doc_id) in both engines; the
    * operator under test is the two-stage regex extraction. */
  val qUrlDomains = GraftQuery(
    "q_url_domains",
    (s, dir) => {
      import s.implicits._
      val tld = element_at(array(lit("com"), lit("org"), lit("net")),
        ($"doc_id" % 3 + 1).cast(IntegerType))
      val url = concat(lit("https://www."), $"source", lit(".example."), tld,
        lit("/item/"), $"doc_id".cast("string"))
      val host = regexp_extract(url, "^https://([^/]+)/", 1)
      Tables.documents(s, dir)
        .select(host.as("host"),
          regexp_extract(host, "([^.]+\\.[^.]+)$", 1).as("reg_domain"))
        .groupBy($"host", $"reg_domain")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"host")
    },
    Some("""WITH t AS (SELECT
        'https://www.' || source || '.example.' || (['com','org','net'])[CAST(doc_id % 3 AS INT) + 1]
          || '/item/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
      h AS (SELECT regexp_extract(url, '^https://([^/]+)/', 1) AS host FROM t)
      SELECT host, regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS reg_domain,
        COUNT(*) AS n_docs
      FROM h GROUP BY host, reg_domain ORDER BY host""")
  )

  /** Bloom-prefiltered decontamination: identical RESULT to
    * q_decontaminate (same oracle SQL — that identity is the point), but
    * through [[Bloom.semiJoinLong]]: the eval 5-gram set becomes a
    * ~1.2 B/item broadcast bitset probed map-side, and only probe
    * survivors reach the exact confirm join. At 100 TB this discards
    * ~all clean shingles before any join machinery runs. */
  val qBloomDecontaminate = GraftQuery(
    "q_bloom_decontaminate",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def sh(d: org.apache.spark.sql.DataFrame) = d.select($"doc_id",
        explode(graft.expressions.TextHashExprs.shingleHashes64(
          TextAnalysis.tokens($"text"), 5)).as("sh"))
      val evalSh = sh(docs.filter($"doc_id" % 50 === 0)).select($"sh").distinct()
      Bloom.semiJoinLong(
          sh(docs.filter($"doc_id" % 50 =!= 0)), "sh", evalSh, "sh",
          expectedItems = 1 << 18, fpp = 0.01)
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 5 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+5], ' ') FOR i IN range(0, LEN(ts)-4)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
      SELECT doc_id, COUNT(*) AS n_shared
      FROM sh JOIN ev USING (s) WHERE doc_id % 50 <> 0
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Sequence packing: assign documents to fixed token-budget bins
    * (2048 tokens) in deterministic id order WITHIN EACH SOURCE — the
    * pre-training sample-packing step. The running token cumsum is a
    * per-source window (sources pack independently and in parallel; a
    * global packing order would be a single-partition sort at scale).
    * offset = where the doc starts inside its bin's budget line. */
  val qPackSequences = GraftQuery(
    "q_pack_sequences",
    (s, dir) => {
      import s.implicits._
      val budget = 2048
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select($"doc_id", $"source", TextAnalysis.tokenCount($"text").as("n_tokens"))
        .withColumn("cum", sum($"n_tokens").over(w))
        .select($"doc_id", $"source", $"n_tokens",
          (($"cum" - $"n_tokens") / budget).cast(IntegerType).as("bin"),
          // "offset" is a reserved word in the oracle engine — bin_offset
          (($"cum" - $"n_tokens") % budget).cast(IntegerType).as("bin_offset"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, source,
        LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
      FROM documents),
      c AS (SELECT doc_id, source, n_tokens,
        SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
      SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens,
        CAST((cum - n_tokens) // 2048 AS INT) AS bin,
        CAST((cum - n_tokens) % 2048 AS INT) AS bin_offset
      FROM c ORDER BY doc_id""")
  )

  /** Source-quota mixture selection: the top 30 documents per source by
    * quality score — the per-domain quota step of corpus mixing. Runs
    * through the TopKPerKey heap operator (each partition prunes to
    * ≤ 30 rows per source map-side; no per-source sort of the corpus).
    * Ranking ties broken by doc_id; the score is rounded BEFORE ranking
    * in both engines so order cannot diverge on sub-1e-6 noise. */
  val qSourceQuota = GraftQuery(
    "q_source_quota",
    (s, dir) => {
      import s.implicits._
      val scored = Tables.documents(s, dir)
        .select($"doc_id", $"source", TextAnalysis.qualityScore($"text").as("q"))
      graft.plans.TopKPerKey.perKey(scored, Seq("source"),
          Seq(("q", false), ("doc_id", true)), k = 30)
        .select($"source", $"doc_id", $"q")
        .orderBy($"source", $"q".desc, $"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, source, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id, source,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      sc AS (SELECT doc_id, source,
        ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) AS q
      FROM m),
      r AS (SELECT source, doc_id, q,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rn
      FROM sc)
      SELECT source, doc_id, q FROM r WHERE rn <= 30
      ORDER BY source, q DESC, doc_id""")
  )

  /** The COMPOSED curation pipeline — quality rules → language gate →
    * exact dedup keep-first → token/chunk accounting, per source, in ONE
    * plan. This is the report a training-data run produces end-to-end:
    * how many documents each stage kills and what survives as trainable
    * tokens/chunks. Every stage reuses the exact oracle-proven formulas
    * of its standalone query (q_gopher_filter, q_lang_id, q_dedup_exact,
    * q_chunk_dedup); the dedup keep-bit avoids a separate filtered
    * relation via MIN(qualifying doc_id) OVER fingerprint. Map-side
    * expression work + one fingerprint window + the final per-source
    * rollup — two shuffles at any corpus size. */
  val qCurationPipeline = GraftQuery(
    "q_curation_pipeline",
    (s, dir) => {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      val base = Tables.documents(s, dir).select($"source", $"doc_id",
        TextAnalysis.gopherKeepBit($"text").as("q"),
        TextAnalysis.langGateEn($"text").as("l"),
        TextAnalysis.fingerprint($"text").as("fp"),
        size(toks).as("n_toks"),
        TextAnalysis.chunkCount(toks, 32, 24).as("n_chunks"))
      val keptMin = min(when($"q" * $"l" === 1, $"doc_id"))
        .over(Window.partitionBy($"fp"))
      base
        .withColumn("d", ($"q" * $"l" === 1 && $"doc_id" === keptMin).cast(IntegerType))
        .groupBy($"source")
        .agg(count(lit(1)).as("docs_in"),
          sum($"q").as("after_quality"),
          sum($"q" * $"l").as("after_lang"),
          sum($"d").as("after_dedup"),
          sum($"d" * $"n_toks").as("tokens_kept"),
          sum($"d" * $"n_chunks").as("chunks_kept"))
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT doc_id, source, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id, source, toks,
        CASE WHEN TRIM(text) = '' THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ws,
        CAST(COALESCE(list_sum(list_transform(toks, x -> LENGTH(x))), 0) AS DOUBLE) / GREATEST(LEN(toks), 1) AS mean_len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(list_distinct(CASE WHEN LEN(toks) < 5 THEN [array_to_string(toks, ' ')]
          ELSE [array_to_string(toks[i+1:i+5], ' ') FOR i IN range(0, LEN(toks)-4)] END)) AS DOUBLE)
          / (CASE WHEN LEN(toks) < 5 THEN 1 ELSE LEN(toks) - 4 END) AS uniq_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','den','von','sich','auf','für'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_de,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_en,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','es','por','con','no','los','las','para'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_es,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour','dans','qui','pas','sur','avec'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_fr,
        ROUND(CAST(LEN(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / GREATEST(LENGTH(text),1), 6) AS s_zh,
        md5(array_to_string(toks, ' ')) AS fp,
        LEN(toks) AS n_toks,
        GREATEST(CAST(CEIL(CAST(LEN(toks) - 32 AS DOUBLE) / 24) AS INT), 0) + 1 AS n_chunks
      FROM t),
      f AS (SELECT *,
        CAST(ws BETWEEN 30 AND 50000 AND mean_len BETWEEN 2.0 AND 12.0
          AND stop_ratio >= 0.02 AND uniq_ratio >= 0.3 AND punct_ratio <= 0.1 AS INT) AS q,
        CAST(GREATEST(s_de,s_en,s_es,s_fr,s_zh) <> 0
          AND s_de <> GREATEST(s_de,s_en,s_es,s_fr,s_zh)
          AND s_en = GREATEST(s_de,s_en,s_es,s_fr,s_zh) AS INT) AS l
      FROM m),
      k AS (SELECT *, MIN(CASE WHEN q*l = 1 THEN doc_id END) OVER (PARTITION BY fp) AS kept_min FROM f),
      kd AS (SELECT *, CAST(q*l = 1 AND doc_id = kept_min AS INT) AS d FROM k)
      SELECT source, COUNT(*) AS docs_in,
        CAST(SUM(q) AS BIGINT) AS after_quality,
        CAST(SUM(q*l) AS BIGINT) AS after_lang,
        CAST(SUM(d) AS BIGINT) AS after_dedup,
        CAST(SUM(d*n_toks) AS BIGINT) AS tokens_kept,
        CAST(SUM(d*n_chunks) AS BIGINT) AS chunks_kept
      FROM kd GROUP BY source ORDER BY source""")
  )

  /** Canonical-URL dedup groups — the web-corpus dedup that runs BEFORE
    * any content hashing: the same page arrives under case-noised hosts,
    * `www.` prefixes, fragments, tracking parameters and trailing
    * slashes, and `Cleaning.canonicalUrl` (a pure codegen'd expression
    * chain) collapses them. URLs are synthesized from doc_id with all
    * five noise classes; the oracle re-implements the SAME
    * canonicalization in DuckDB, so the group structure — not just a
    * formula — is what's verified. One groupBy on the canonical string;
    * at scale the canonical fingerprints, never the raw URLs, are the
    * shuffle key. */
  val qUrlCanonicalize = GraftQuery(
    "q_url_canonicalize",
    (s, dir) => {
      import s.implicits._
      val scheme = when($"doc_id" % 2 === 0, "HTTPS://WWW.").otherwise("https://")
      val qs = when($"doc_id" % 3 === 0, "?utm_source=feed&id=7")
        .when($"doc_id" % 3 === 1, "?id=7").otherwise("")
      val url = concat(scheme, $"source", lit(".Example.com/Item/"),
        ($"doc_id" % 50).cast("string"),
        when($"doc_id" % 7 === 0, "/").otherwise(""),
        qs,
        when($"doc_id" % 5 === 0, "#sec").otherwise(""))
      Tables.documents(s, dir)
        .select(url.as("url"),
          graft.functions.Cleaning.canonicalUrl(url).as("canonical"))
        .groupBy($"canonical")
        .agg(count(lit(1)).as("n_docs"), countDistinct($"url").as("n_variants"))
        .filter($"n_docs" > 1)
        .orderBy($"canonical")
    },
    Some("""WITH raw AS (SELECT
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
          || source || '.Example.com/Item/' || CAST(doc_id % 50 AS VARCHAR)
          || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
          || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=7'
                   WHEN doc_id % 3 = 1 THEN '?id=7' ELSE '' END)
          || (CASE WHEN doc_id % 5 = 0 THEN '#sec' ELSE '' END) AS url
      FROM documents),
      st AS (SELECT url, regexp_replace(url, '#.*$', '') AS nofrag FROM raw),
      parts AS (SELECT url,
        lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?]*)', 1)) AS head,
        regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*', '') AS rest
      FROM st),
      comp AS (SELECT url,
        regexp_replace(head, '^(https?://)www\.', '\1') AS nowww,
        regexp_replace(regexp_replace(rest, '\?.*$', ''), '/+$', '') AS noslash,
        CASE WHEN contains(rest, '?') THEN regexp_replace(rest, '^[^?]*\?', '') ELSE '' END AS qs
      FROM parts),
      canon AS (SELECT url, nowww || noslash ||
        (CASE WHEN LEN(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END) AS canonical
      FROM (SELECT url, nowww, noslash,
          list_filter(string_split(qs, '&'),
            p -> NOT regexp_matches(p, '^(utm_|fbclid=|gclid=)') AND p <> '') AS kept
        FROM comp))
      SELECT canonical, COUNT(*) AS n_docs, COUNT(DISTINCT url) AS n_variants
      FROM canon GROUP BY canonical HAVING COUNT(*) > 1
      ORDER BY canonical""")
  )

  /** Token-BUDGET source selection: rank sources by mean quality and
    * greedily take whole sources until half the corpus tokens are
    * committed — the planning report that decides WHICH providers make
    * the training mix before any per-doc filtering runs. One shuffle
    * (the per-source rollup); both windows — running total and corpus
    * total — run over the sources-sized aggregate relation, never the
    * corpus. `selected` marks a source iff the budget was not already
    * exhausted when its turn came (the crossing source is included, the
    * classic greedy rule). Mean quality goes through DECIMAL so the
    * ordering (and therefore the cumulative sums) cannot diverge between
    * engines; shares use the floor fixed-point idiom. */
  val qTokenBudget = GraftQuery(
    "q_token_budget",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val per = Tables.documents(s, dir)
        .select($"source", size(TextAnalysis.tokens($"text")).as("n_toks"),
          TextAnalysis.qualityScore($"text").as("q"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_toks").as("n_tokens"),
          round(sum($"q".cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("avg_quality"))
      val order = Window.orderBy($"avg_quality".desc, $"source")
      val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      per
        .withColumn("cum_tokens", sum($"n_tokens").over(
          order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("total", sum($"n_tokens").over(all))
        .withColumn("cum_share",
          floor($"cum_tokens" * 1000000.0 / $"total" + 0.5) / 1000000.0)
        .withColumn("selected",
          (($"cum_tokens" - $"n_tokens") * 2 < $"total").cast("int"))
        .select($"source", $"n_docs", $"n_tokens", $"avg_quality",
          $"cum_tokens", $"cum_share", $"selected")
        .orderBy($"avg_quality".desc, $"source")
    },
    Some("""WITH t AS (SELECT doc_id, source, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id, source, LEN(toks) AS n_toks,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      sc AS (SELECT source, n_toks,
        ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) AS q
      FROM m),
      per AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
        ROUND(CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS avg_quality
      FROM sc GROUP BY source),
      w AS (SELECT source, n_docs, n_tokens, avg_quality,
        CAST(SUM(n_tokens) OVER (ORDER BY avg_quality DESC, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
      FROM per)
      SELECT source, n_docs, n_tokens, avg_quality, cum_tokens,
        FLOOR(cum_tokens * 1000000.0 / total + 0.5) / 1000000.0 AS cum_share,
        CAST((cum_tokens - n_tokens) * 2 < total AS INT) AS selected
      FROM w ORDER BY avg_quality DESC, source""")
  )

  /** Deterministic train/val/test SPLIT ASSIGNMENT (80/10/10) by the
    * portable Lehmer hash of doc_id — the split a doc lands in is a pure
    * function of its id, so it is reproducible across engines, runs and
    * cluster sizes, and STABLE under corpus growth (new docs never move
    * existing ones between splits, unlike randomSplit or any
    * count-based partitioning). Map-only assignment + one
    * (source, split) rollup; the per-source share rides along as the
    * leakage/imbalance report. Share uses the floor fixed-point idiom,
    * not ROUND — high-volume double rounding diverges across engines at
    * representation boundaries. */
  val qSplitAssign = GraftQuery(
    "q_split_assign",
    (s, dir) => {
      import s.implicits._
      val h = pmod(pmod($"doc_id", lit(2147483647L)) * lit(48271L),
        lit(2147483647L)) % 1000000L
      val split = when(h < 800000L, "train").when(h < 900000L, "val").otherwise("test")
      val w = Window.partitionBy($"source")
      Tables.documents(s, dir)
        .select($"source", split.as("split"), $"n_chars")
        .groupBy($"source", $"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("n_chars"))
        .withColumn("share",
          floor($"n_docs" * 1000000.0 / sum($"n_docs").over(w) + 0.5) / 1000000.0)
        .orderBy($"source", $"split")
    },
    Some("""WITH a AS (SELECT source,
        CASE WHEN ((((doc_id % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 800000 THEN 'train'
             WHEN ((((doc_id % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 900000 THEN 'val'
             ELSE 'test' END AS split, n_chars
      FROM documents),
      g AS (SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM a GROUP BY 1, 2)
      SELECT source, split, n_docs, n_chars,
        FLOOR(n_docs * 1000000.0 / SUM(n_docs) OVER (PARTITION BY source) + 0.5) / 1000000.0 AS share
      FROM g ORDER BY source, split""")
  )

  /** Quality-WEIGHTED deterministic downsampling: each document is kept
    * with probability quality/2, decided by comparing the portable
    * Lehmer hash of its id (uniform in [0, 1e6)) against the scaled
    * score — no RNG, so both engines (and any two cluster runs) keep
    * identical rows. The 6dp-rounded score times a constant truncated to
    * a long is deterministic double math. Map-only + the per-source
    * rollup; expected_rate (decimal-exact mean quality / 2) sits next to
    * realized_rate as the sampling-sanity report. */
  val qWeightedSample = GraftQuery(
    "q_weighted_sample",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val qs = TextAnalysis.qualityScore($"text")
      val lehmer = pmod(pmod($"doc_id", lit(2147483647L)) * lit(48271L),
        lit(2147483647L)) % 1000000L
      val kept = (lehmer < (qs * 500000.0).cast("long")).cast(IntegerType)
      Tables.documents(s, dir)
        .select($"source", kept.as("kept"), qs.as("quality"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"kept").as("n_kept"),
          round(sum($"quality".cast(DecimalType(18, 6))).cast(DoubleType)
            / (count(lit(1)) * 2), 6).as("expected_rate"),
          round(sum($"kept").cast(DoubleType) / count(lit(1)), 6).as("realized_rate"))
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT doc_id, source, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id, source,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      q AS (SELECT doc_id, source,
        ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) AS quality
      FROM m),
      k AS (SELECT source, quality,
        -- FLOOR before the cast: DuckDB's double->BIGINT cast rounds to
        -- nearest while Spark's truncates, and quality*500000.0 lands
        -- exactly on k+0.5 for every score with an odd 6th decimal digit
        CAST(((((doc_id % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000
          < CAST(FLOOR(quality * 500000.0) AS BIGINT) AS INT) AS kept
      FROM q)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(kept) AS BIGINT) AS n_kept,
        ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / (COUNT(*) * 2), 6) AS expected_rate,
        ROUND(CAST(SUM(kept) AS DOUBLE) / COUNT(*), 6) AS realized_rate
      FROM k GROUP BY source ORDER BY source""")
  )

  /** Temperature-based multinomial source balancing (the mT5/XLM-R
    * data-mix recipe): each language's sampling weight is n^α (α = 0.5
    * here — sqrt damping), normalized into a target share, and a fixed
    * document budget B is allotted proportionally, upsampling
    * low-resource languages relative to their raw share. Per-row keep is
    * the portable Lehmer hash against the per-language rate, and the
    * WHOLE decision is integer arithmetic: weights quantize to
    * floor(sqrt(n)·1000) (IEEE sqrt is correctly rounded — deterministic
    * everywhere), and "hash < rate" is cross-multiplied to
    * hash·S·n < 10⁶·B·s so no engine ever compares a derived double.
    * Bounds: hash < 10⁶, S ≤ langs·√N·10³, n ≤ N — at N = 10⁹ docs the
    * left side is ~10⁶·1.6·10⁸·10⁹ ≈ 1.6·10²³… which overflows; at the
    * 10⁵-doc testdata scale it is ≤ 1.6·10¹⁷, safely inside int64. At
    * corpus scale the same decision runs with hash resolution 10³
    * (rates coarser than 0.1% matter to nobody's data mix).
    * Plan: one tiny per-language rollup, broadcast back, map-side keep,
    * one final rollup — two shuffles of ≤ |langs| rows each. */
  val qTemperatureSample = GraftQuery(
    "q_temperature_sample",
    (s, dir) => {
      import s.implicits._
      val B = 300L // document budget across the corpus
      val counts = Tables.documents(s, dir)
        .groupBy($"lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("s_i", floor(sqrt($"n_docs") * 1000.0).cast("long"))
      val total = counts.agg(sum($"s_i").as("s_total"))
      val rates = counts.crossJoin(broadcast(total))
      val lehmer = pmod(pmod($"doc_id", lit(2147483647L)) * lit(48271L),
        lit(2147483647L)) % 1000000L
      Tables.documents(s, dir).select($"doc_id", $"lang")
        .join(broadcast(rates), Seq("lang"))
        .withColumn("kept",
          (lehmer * $"s_total" * $"n_docs" < lit(1000000L) * lit(B) * $"s_i")
            .cast(IntegerType))
        .groupBy($"lang", $"n_docs", $"s_i", $"s_total")
        .agg(sum($"kept").cast("long").as("n_kept"))
        .select($"lang", $"n_docs",
          round($"s_i".cast(DoubleType) / $"s_total", 6).as("target_share"),
          round(least(lit(1.0),
            ($"s_i" * B).cast(DoubleType) / ($"s_total" * $"n_docs")), 6)
            .as("keep_rate"),
          $"n_kept",
          round($"n_kept".cast(DoubleType) / $"n_docs", 6).as("realized_rate"))
        .orderBy($"lang")
    },
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n_docs,
        CAST(FLOOR(SQRT(COUNT(*)) * 1000.0) AS BIGINT) AS s_i
      FROM documents GROUP BY 1),
      tot AS (SELECT CAST(SUM(s_i) AS BIGINT) AS s_total FROM c),
      k AS (SELECT d.lang, n_docs, s_i, s_total,
        CASE WHEN ((((doc_id % 2147483647 + 2147483647) % 2147483647) * 48271)
            % 2147483647) % 1000000 * s_total * n_docs < 1000000 * 300 * s_i
          THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN c USING (lang) CROSS JOIN tot)
      SELECT lang, n_docs,
        ROUND(CAST(s_i AS DOUBLE) / s_total, 6) AS target_share,
        ROUND(LEAST(1.0, CAST(s_i * 300 AS DOUBLE) / (s_total * n_docs)), 6) AS keep_rate,
        CAST(SUM(kept) AS BIGINT) AS n_kept,
        ROUND(CAST(SUM(kept) AS DOUBLE) / n_docs, 6) AS realized_rate
      FROM k GROUP BY lang, n_docs, s_i, s_total ORDER BY lang""")
  )

  /** Cross-document boilerplate-span removal (line-level dedup over
    * 16-token windows, df > 2 → boilerplate): the corpus TRANSFORM —
    * cleaned text plus removal accounting per doc — with the reassembly
    * itself under the hash gate. See Dedup.stripBoilerplateSpans for the
    * shuffle story (hot-window set broadcasts; one corpus shuffle). */
  val qBoilerplateStrip = GraftQuery(
    "q_boilerplate_strip",
    (s, dir) => {
      import s.implicits._
      graft.operators.Dedup.stripBoilerplateSpans(
          Tables.documents(s, dir), "doc_id", "text", span = 16, maxDf = 2)
        .select($"id".as("doc_id"), $"n_spans", $"n_removed", $"cleaned")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL),
      ix AS (SELECT doc_id, toks,
        unnest(range(GREATEST(CAST(CEIL((len(toks) - 16) / 16.0) AS BIGINT), 0) + 1)) AS idx
      FROM t),
      sp AS (SELECT doc_id, idx,
        array_to_string(toks[idx*16+1 : idx*16+16], ' ') AS span FROM ix),
      hot AS (SELECT span FROM sp GROUP BY span HAVING COUNT(DISTINCT doc_id) > 2),
      f AS (SELECT doc_id, idx, span,
        CASE WHEN span IN (SELECT span FROM hot) THEN 1 ELSE 0 END AS is_hot FROM sp)
      SELECT doc_id, COUNT(*) AS n_spans, CAST(SUM(is_hot) AS BIGINT) AS n_removed,
        COALESCE(array_to_string(list(span ORDER BY idx) FILTER (is_hot = 0), ' '), '') AS cleaned
      FROM f GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Training-shard manifest from CONTIGUOUS row ids: shard = row_id
    * div 64, with per-shard row ranges, char budget, and source spread.
    * This is why contiguity matters downstream — shard membership is
    * pure id arithmetic (no extra shuffle, resumable by offset), which
    * monotonically_increasing_id's 2³³ gaps break outright. The oracle
    * reproduces the enumeration with row_number, so equal-size shards
    * AND the exact id ranges are under the hash gate (last_row −
    * first_row + 1 = n_rows is visible in the result). */
  val qShardManifest = GraftQuery(
    "q_shard_manifest",
    (s, dir) => {
      import s.implicits._
      graft.operators.Ids.contiguousRowIds(
          Tables.documents(s, dir).select($"doc_id", $"n_chars", $"source"),
          Seq($"doc_id"), numPartitions = 8)
        .withColumn("shard", floor($"row_id" / 64).cast("long"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_rows"),
          min($"row_id").as("first_row"), max($"row_id").as("last_row"),
          sum($"n_chars").as("chars"),
          countDistinct($"source").as("n_sources"))
        .orderBy($"shard")
    },
    Some("""WITH ids AS (SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_id,
        n_chars, source FROM documents)
      SELECT CAST(row_id // 64 AS BIGINT) AS shard, COUNT(*) AS n_rows,
        MIN(row_id) AS first_row, MAX(row_id) AS last_row,
        CAST(SUM(n_chars) AS BIGINT) AS chars,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM ids GROUP BY 1 ORDER BY shard""")
  )

  /** Deterministic negative sampling for contrastive training: each
    * anchor doc draws 4 hash-derived candidate partners from the DENSE
    * id space (ids 0..N-1 — at scale, run Ids.contiguousRowIds first;
    * that contiguity is what makes `hash mod N` a valid sampler), drops
    * candidates that are the anchor itself or an exact-content copy of
    * it, and keeps the first 2 survivors in probe order. A seeded-RNG
    * formulation would be partition-order-dependent; the arithmetic one
    * is reproducible anywhere — including the DuckDB oracle, which
    * replays sampling, exclusion, and selection end to end.
    *
    * Scale: candidates are a 4× map-side explode of (anchor, cand-id)
    * pairs; content exclusion joins the 16-byte md5 relation on the
    * candidate id (one keyed shuffle — the md5s are corpus-cardinality,
    * not broadcastable at corpus scale — AQE broadcasts it at test SF);
    * per-anchor selection is `rank <= 2`, group-limit-pruned map-side
    * (Spark's InferWindowGroupLimit claims this shape; TopKRewriteRule
    * defers to it by design — either way no full per-key sort). */
  val qNegativeSample = GraftQuery(
    "q_negative_sample",
    (s, dir) => {
      import s.implicits._
      val docs = graft.operators.Caches.register(
        Tables.documents(s, dir).select($"doc_id", md5($"text").as("f")))
      val n = docs.agg(count(lit(1)).as("nn"))
      val cands = docs.select($"doc_id", $"f".as("f_a"))
        .crossJoin(broadcast(n))
        .withColumn("j", explode(typedLit(Seq(1L, 2L, 3L, 4L))))
        .withColumn("cand", ($"doc_id" * 48271L + $"j" * 104729L) % $"nn")
        .filter($"cand" =!= $"doc_id")
      val valid = cands
        .join(docs.select($"doc_id".as("cand"), $"f".as("f_c")), Seq("cand"))
        .filter($"f_a" =!= $"f_c")
      val w = Window.partitionBy($"doc_id").orderBy($"j")
      valid
        .withColumn("neg_rank", row_number().over(w))
        .filter($"neg_rank" <= 2)
        .select($"doc_id", $"neg_rank", $"cand".as("neg_id"))
        .orderBy($"doc_id", $"neg_rank")
    },
    Some("""WITH n AS (SELECT COUNT(*) AS nn FROM documents),
      fp AS (SELECT doc_id, md5(text) AS f FROM documents),
      c AS (SELECT a.doc_id, t.j, ((a.doc_id * 48271 + t.j * 104729) % nn) AS cand
        FROM documents a, n, UNNEST([1, 2, 3, 4]) AS t(j)
        WHERE ((a.doc_id * 48271 + t.j * 104729) % nn) <> a.doc_id),
      v AS (SELECT c.doc_id, c.j, c.cand FROM c
        JOIN fp fa ON fa.doc_id = c.doc_id
        JOIN fp fc ON fc.doc_id = c.cand
        WHERE fa.f <> fc.f),
      r AS (SELECT doc_id, j, cand,
          row_number() OVER (PARTITION BY doc_id ORDER BY j) AS neg_rank
        FROM v)
      SELECT doc_id, CAST(neg_rank AS INT) AS neg_rank, cand AS neg_id
      FROM r WHERE neg_rank <= 2 ORDER BY doc_id, neg_rank""")
  )

  /** Cross-split CONTAMINATION audit: near-duplicate pairs (the
    * portable MinHash-LSH chain of q_minhash_pairs) bucketed by which
    * train/val/test cells the two docs landed in under the q_split_assign
    * hash. A val/test doc with a train near-dup is leaked eval signal —
    * the per-(split,split) pair counts with a cross_split flag are the
    * report a pipeline gates its split on. Composition is free at scale:
    * the pair list is the (already banded + df-capped) dedup relation,
    * and the split is a map-side hash of each id — no new shuffle beyond
    * the tiny pair-level rollup. DuckDB replays shingles → signatures →
    * bands → verified pairs → split cells, all in the portable family. */
  val qSplitLeakage = GraftQuery(
    "q_split_leakage",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types.DecimalType
      val pairs = graft.operators.Dedup.minhashDedupPairs(
        Tables.documents(s, dir), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucket = 100)
      def split(c: Column): Column = {
        val h = pmod(pmod(c, lit(2147483647L)) * lit(48271L),
          lit(2147483647L)) % 1000000L
        when(h < 800000L, "train").when(h < 900000L, "val").otherwise("test")
      }
      pairs
        .select(split($"id_a").as("ra"), split($"id_b").as("rb"), $"est_jaccard")
        .groupBy(least($"ra", $"rb").as("split_a"),
          greatest($"ra", $"rb").as("split_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum($"est_jaccard".cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("mean_sim"))
        .withColumn("cross_split",
          when($"split_a" =!= $"split_b", 1).otherwise(0))
        .orderBy($"split_a", $"split_b")
    },
    Some(s"""WITH ${MinhashOracle.sigCtes},
      ${MinhashOracle.bandCtes(r = 4)},
      p AS (SELECT id_a, id_b, est_jaccard FROM ver WHERE est_jaccard >= 0.5),
      sp AS (SELECT est_jaccard,
        CASE WHEN ((((id_a % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 800000 THEN 'train'
             WHEN ((((id_a % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 900000 THEN 'val'
             ELSE 'test' END AS ra,
        CASE WHEN ((((id_b % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 800000 THEN 'train'
             WHEN ((((id_b % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 900000 THEN 'val'
             ELSE 'test' END AS rb
      FROM p)
      SELECT LEAST(ra, rb) AS split_a, GREATEST(ra, rb) AS split_b,
        COUNT(*) AS n_pairs,
        ROUND(CAST(SUM(CAST(est_jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sim,
        CASE WHEN LEAST(ra, rb) <> GREATEST(ra, rb) THEN 1 ELSE 0 END AS cross_split
      FROM sp GROUP BY LEAST(ra, rb), GREATEST(ra, rb)
      ORDER BY split_a, split_b""")
  )

  /** Quality-threshold RETENTION SWEEP: for cutoffs 0.1…0.9, how many
    * documents and characters survive `quality ≥ thr` — the planning
    * curve a curation run reads before committing to a filter level
    * (the knee of char_share vs thr is the budget decision). Computed
    * WITHOUT a 9× grid blowup of the corpus: quality is fixed-pointed
    * to integer micro-units map-side, bucketed by decile with exact
    * integer division (no double-boundary ambiguity at 0.3 ≠ 3/10 in
    * IEEE), and the sweep is a 9-row grid joined against ≤11 bucket
    * rows — the corpus is scanned exactly once. */
  val qFilterSweep = GraftQuery(
    "q_filter_sweep",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val d = Tables.documents(s, dir)
        .select(floor(TextAnalysis.qualityScore($"text") * 1000000.0 + 0.5)
          .cast(LongType).as("qi"), $"n_chars")
      // the ≤11-row bucket relation is cached: both its consumers (the
      // grid join and the totals fold) reuse ONE corpus scan
      val buck = graft.operators.Caches.register(
        d.withColumn("b", expr("qi div 100000"))
          .groupBy($"b")
          .agg(count(lit(1)).as("nd"), sum($"n_chars").as("nc")))
      val grid = s.range(1, 10).select($"id".as("k"))
      val tot = buck.agg(sum($"nd").as("total_docs"),
        sum($"nc").as("total_chars"))
      grid.join(buck, $"b" >= $"k", "left")
        .groupBy($"k")
        .agg(coalesce(sum($"nd"), lit(0L)).as("n_docs_kept"),
          coalesce(sum($"nc"), lit(0L)).as("n_chars_kept"))
        .crossJoin(tot)
        .select(($"k".cast(DoubleType) / 10.0).as("thr"),
          $"n_docs_kept", $"n_chars_kept",
          (floor($"n_docs_kept" * 1000000.0 / $"total_docs" + 0.5) / 1000000.0)
            .as("doc_share"),
          (floor($"n_chars_kept" * 1000000.0 / $"total_chars" + 0.5) / 1000000.0)
            .as("char_share"))
        .orderBy($"thr")
    },
    Some("""WITH t AS (SELECT doc_id, text, n_chars,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id, n_chars,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      q AS (SELECT CAST(FLOOR(ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) * 1000000.0 + 0.5) AS BIGINT) AS qi,
          n_chars
        FROM m),
      buck AS (SELECT qi // 100000 AS b, COUNT(*) AS nd, CAST(SUM(n_chars) AS BIGINT) AS nc
        FROM q GROUP BY 1),
      grid AS (SELECT unnest(range(1, 10)) AS k),
      agg AS (SELECT k, CAST(COALESCE(SUM(nd), 0) AS BIGINT) AS n_docs_kept,
          CAST(COALESCE(SUM(nc), 0) AS BIGINT) AS n_chars_kept
        FROM grid LEFT JOIN buck ON b >= k GROUP BY k),
      tot AS (SELECT COUNT(*) AS total_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM q)
      SELECT k / 10.0 AS thr, n_docs_kept, n_chars_kept,
        FLOOR(n_docs_kept * 1000000.0 / total_docs + 0.5) / 1000000.0 AS doc_share,
        FLOOR(n_chars_kept * 1000000.0 / total_chars + 0.5) / 1000000.0 AS char_share
      FROM agg, tot ORDER BY thr""")
  )

  /** COORDINATED (key-consistent) sampling: sample the JOIN KEY, not
    * the row — both orders and lineitem keep exactly the rows whose
    * orderkey hashes into the same 10% cell, so the sampled tables
    * still join with full referential integrity and any join-level
    * statistic computed on the sample is unbiased for the keyed join.
    * (Independent 10% row samples of two sides would keep only ~1% of
    * join pairs and break every FK.) The n_orphan_lineitems column is
    * the in-plan RI certificate — it must be 0 because the SAME hash
    * decides both sides. Map-side filters + one sampled-size join; at
    * 100 TB this is how you build a dev-scale but join-faithful corpus
    * slice. */
  val qConsistentSample = GraftQuery(
    "q_consistent_sample",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.Column
      import org.apache.spark.sql.types.LongType
      def keep(c: Column) =
        (pmod(pmod(c, lit(2147483647L)) * lit(48271L), lit(2147483647L))
          % 1000000L) < 100000L
      val o = Tables.orders(s, dir).select($"o_orderkey").filter(keep($"o_orderkey"))
      val l = Tables.lineitem(s, dir).select($"l_orderkey").filter(keep($"l_orderkey"))
      val nO = o.agg(count(lit(1)).cast(LongType).as("n_orders_sampled"))
      val nL = l.agg(count(lit(1)).cast(LongType).as("n_lineitem_sampled"))
      val nJ = l.join(o, $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)).cast(LongType).as("n_join_rows"))
      val nOrphan = l.join(o, $"l_orderkey" === $"o_orderkey", "left_anti")
        .agg(count(lit(1)).cast(LongType).as("n_orphan_lineitems"))
      val tot = Tables.orders(s, dir)
        .agg(count(lit(1)).cast(LongType).as("total_orders"))
      nO.crossJoin(nL).crossJoin(nJ).crossJoin(nOrphan).crossJoin(tot)
        .select($"n_orders_sampled", $"n_lineitem_sampled", $"n_join_rows",
          $"n_orphan_lineitems",
          (floor($"n_orders_sampled" * 1000000.0 / $"total_orders" + 0.5)
            / 1000000.0).as("order_rate"))
    },
    Some("""WITH so AS (SELECT o_orderkey FROM orders
        WHERE ((((o_orderkey % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 100000),
      sl AS (SELECT l_orderkey FROM lineitem
        WHERE ((((l_orderkey % 2147483647 + 2147483647) % 2147483647) * 48271) % 2147483647) % 1000000 < 100000),
      j AS (SELECT COUNT(*) AS n_join_rows FROM sl JOIN so ON l_orderkey = o_orderkey),
      orp AS (SELECT COUNT(*) AS n_orphan_lineitems FROM sl
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM so)),
      t AS (SELECT COUNT(*) AS total_orders FROM orders)
      SELECT (SELECT COUNT(*) FROM so) AS n_orders_sampled,
        (SELECT COUNT(*) FROM sl) AS n_lineitem_sampled,
        j.n_join_rows, orp.n_orphan_lineitems,
        FLOOR((SELECT COUNT(*) FROM so) * 1000000.0 / t.total_orders + 0.5) / 1000000.0 AS order_rate
      FROM j, orp, t""")
  )

  /** Cross-SOURCE duplication matrix: the near-dup pair relation rolled
    * up by the (source, source) cell its endpoints land in — which
    * feeds syndicate, mirror, or scrape each other. Off-diagonal mass
    * is content PROVENANCE (dedup priority between sources, who to
    * crawl first); diagonal mass is within-source redundancy
    * (q_dup_inflation's near-dup twin). Same free composition as
    * q_split_leakage: the banded+df-capped pair relation plus a
    * broadcast doc→source lookup (two key-value columns, never the
    * text), then a |sources|² rollup. */
  val qCrossSourceDup = GraftQuery(
    "q_cross_source_dup",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val pairs = graft.operators.Dedup.minhashDedupPairs(
        Tables.documents(s, dir), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucket = 100)
      val src = Tables.documents(s, dir).select($"doc_id", $"source")
      pairs
        .join(broadcast(src.withColumnRenamed("doc_id", "id_a")
          .withColumnRenamed("source", "sa")), "id_a")
        .join(broadcast(src.withColumnRenamed("doc_id", "id_b")
          .withColumnRenamed("source", "sb")), "id_b")
        .groupBy(least($"sa", $"sb").as("source_a"),
          greatest($"sa", $"sb").as("source_b"))
        .agg(count(lit(1)).as("n_pairs"),
          round(sum($"est_jaccard".cast(DecimalType(18, 6))).cast(DoubleType)
            / count(lit(1)), 6).as("mean_sim"))
        .withColumn("cross_source",
          when($"source_a" =!= $"source_b", 1).otherwise(0))
        .orderBy($"source_a", $"source_b")
    },
    Some(s"""WITH ${MinhashOracle.sigCtes},
      ${MinhashOracle.bandCtes(r = 4)},
      p AS (SELECT id_a, id_b, est_jaccard FROM ver WHERE est_jaccard >= 0.5),
      sp AS (SELECT est_jaccard, da.source AS sa, db.source AS sb
        FROM p JOIN documents da ON p.id_a = da.doc_id
               JOIN documents db ON p.id_b = db.doc_id)
      SELECT LEAST(sa, sb) AS source_a, GREATEST(sa, sb) AS source_b,
        COUNT(*) AS n_pairs,
        ROUND(CAST(SUM(CAST(est_jaccard AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_sim,
        CASE WHEN LEAST(sa, sb) <> GREATEST(sa, sb) THEN 1 ELSE 0 END AS cross_source
      FROM sp GROUP BY LEAST(sa, sb), GREATEST(sa, sb)
      ORDER BY source_a, source_b""")
  )

  /** Quality-score CALIBRATION against duplication: per quality decile,
    * the share of docs whose exact fingerprint repeats in the corpus —
    * "does the score actually separate junk?" A filter score that does
    * not correlate with redundancy is decoration; this is the check
    * that keeps q_filter_sweep's thresholds honest. Same fixed-point
    * decile bucketing as the sweep (no IEEE boundary ambiguity); the
    * dup flag is a fingerprint-frequency join (16-byte md5 relation,
    * never text); output is ≤11 rows. */
  val qQualityCalibration = GraftQuery(
    "q_quality_calibration",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      // cached: d feeds the dup-fingerprint aggregate AND the join —
      // the regex-heavy score + md5 run once, not twice
      val d = graft.operators.Caches.register(Tables.documents(s, dir).select(
        floor(TextAnalysis.qualityScore($"text") * 1000000.0 + 0.5)
          .cast(LongType).as("qi"),
        TextAnalysis.fingerprint($"text").as("fp")))
      val dupFp = d.groupBy($"fp").agg(count(lit(1)).as("n"))
        .filter($"n" > 1).select($"fp")
      d.join(broadcast(dupFp.withColumn("is_dup", lit(1))), Seq("fp"), "left")
        .withColumn("b", expr("qi div 100000"))
        .groupBy($"b")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"is_dup"), lit(0)).cast(LongType).as("n_dup_docs"))
        .withColumn("dup_rate",
          floor($"n_dup_docs" * 1000000.0 / $"n_docs" + 0.5) / 1000000.0)
        .orderBy($"b")
    },
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id,
        md5(array_to_string(toks, ' ')) AS fp,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      q AS (SELECT fp, CAST(FLOOR(ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) * 1000000.0 + 0.5) AS BIGINT) AS qi
        FROM m),
      dup AS (SELECT fp FROM q GROUP BY fp HAVING COUNT(*) > 1)
      SELECT qi // 100000 AS b, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN q.fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
        FLOOR(SUM(CASE WHEN q.fp IN (SELECT fp FROM dup) THEN 1 ELSE 0 END) * 1000000.0 / COUNT(*) + 0.5) / 1000000.0 AS dup_rate
      FROM q GROUP BY 1 ORDER BY b""")
  )

  /** CONTEXT-LENGTH fit histogram: docs bucketed by the power-of-2
    * context window their BPE-ish token count fits in (≤64 … ≤8192,
    * then over) with cumulative doc/token shares — the table that
    * answers "what fraction of the corpus fits a 2k window without
    * truncation, and how much token mass sits in the tail". Bucketing
    * is a pure integer CASE chain (no log2 floats); the cumulative
    * fronts run over the ≤9-bucket relation. */
  val qContextLengthHist = GraftQuery(
    "q_context_length_hist",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val n = TextAnalysis.bpeIshTokenCount($"text").cast(LongType)
      val bucket = when(n <= 64, 64L).when(n <= 128, 128L)
        .when(n <= 256, 256L).when(n <= 512, 512L).when(n <= 1024, 1024L)
        .when(n <= 2048, 2048L).when(n <= 4096, 4096L).when(n <= 8192, 8192L)
        .otherwise(Long.MaxValue)
      val w = Window.orderBy($"bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy()
      Tables.documents(s, dir)
        .select(bucket.as("bucket"), n.as("n_tokens"))
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("n_tokens"))
        .withColumn("cum_doc_share",
          floor(sum($"n_docs").over(w) * 1000000.0
            / sum($"n_docs").over(tot) + 0.5) / 1000000.0)
        .withColumn("cum_token_share",
          floor(sum($"n_tokens").over(w) * 1000000.0
            / sum($"n_tokens").over(tot) + 0.5) / 1000000.0)
        .orderBy($"bucket")
    },
    Some(s"""WITH t AS (SELECT
        CAST(LEN(regexp_extract_all(text, '[A-Za-z]+|\\d|[^A-Za-z\\d\\s]')) AS BIGINT) AS n
      FROM documents),
      b AS (SELECT CASE WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
          WHEN n <= 256 THEN 256 WHEN n <= 512 THEN 512 WHEN n <= 1024 THEN 1024
          WHEN n <= 2048 THEN 2048 WHEN n <= 4096 THEN 4096 WHEN n <= 8192 THEN 8192
          ELSE ${Long.MaxValue} END AS bucket, n
        FROM t),
      g AS (SELECT bucket, COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM b GROUP BY 1)
      SELECT bucket, n_docs, n_tokens,
        FLOOR(SUM(n_docs) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0
          / SUM(n_docs) OVER () + 0.5) / 1000000.0 AS cum_doc_share,
        FLOOR(SUM(n_tokens) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000.0
          / SUM(n_tokens) OVER () + 0.5) / 1000000.0 AS cum_token_share
      FROM g ORDER BY bucket""")
  )

  /** CURRICULUM sharding: documents ordered cleanest-first (quality
    * desc, id tie-break) and cut into 10 contiguous shards by the
    * range-partitioned global enumeration ([[graft.operators.Ids]] —
    * never a single-partition ntile sort); per shard the quality
    * envelope a curriculum schedule consumes (train on shard 0 first,
    * anneal in the tail). The monotone min/max staircase across shards
    * is the self-certifying property: shard k's max ≤ shard k−1's min
    * up to the fixed-point grid. */
  val qCurriculumShards = GraftQuery(
    "q_curriculum_shards",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val scored = Tables.documents(s, dir)
        .select($"doc_id",
          floor(TextAnalysis.qualityScore($"text") * 1000000.0 + 0.5)
            .cast(LongType).as("qi"))
      val ranked = graft.operators.Ids.contiguousRowIds(
        scored, Seq(col("qi").desc, col("doc_id")), numPartitions = 8)
      val nTot = ranked.agg(count(lit(1)).as("n")).first().getLong(0)
      val shardSize = (nTot + 9) / 10
      ranked
        .withColumn("shard", expr(s"row_id div $shardSize"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"),
          (max($"qi") / 1000000.0).as("max_quality"),
          (min($"qi") / 1000000.0).as("min_quality"),
          (floor(sum($"qi").cast(DoubleType) / count(lit(1)) + 0.5) / 1000000.0)
            .as("mean_quality"))
        .orderBy($"shard")
    },
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t),
      q AS (SELECT doc_id, CAST(FLOOR(ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) * 1000000.0 + 0.5) AS BIGINT) AS qi
        FROM m),
      r AS (SELECT qi, ROW_NUMBER() OVER (ORDER BY qi DESC, doc_id) - 1 AS row_id,
          COUNT(*) OVER () AS n FROM q),
      sh AS (SELECT qi, row_id // ((n + 9) // 10) AS shard FROM r)
      SELECT shard, COUNT(*) AS n_docs,
        MAX(qi) / 1000000.0 AS max_quality,
        MIN(qi) / 1000000.0 AS min_quality,
        FLOOR(CAST(SUM(qi) AS DOUBLE) / COUNT(*) + 0.5) / 1000000.0 AS mean_quality
      FROM sh GROUP BY 1 ORDER BY shard""")
  )

  /** PACKING UTILIZATION at candidate context budgets: under the
    * per-source concat-packing of q_pack_sequences (docs stream into
    * budget-L lines, only each source's LAST line is short), how many
    * bins each budget costs and what fraction is padding. n_bins =
    * Σ_source ⌈tokens_s / L⌉ and waste = bins·L − tokens — pure integer
    * arithmetic over the |sources|-row rollup, three budgets from one
    * scan. The capacity-planning twin of q_context_length_hist: that
    * one asks "what fits", this one asks "what it costs". */
  val qPackEfficiency = GraftQuery(
    "q_pack_efficiency",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val bySource = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select($"source", TextAnalysis.tokenCount($"text").cast(LongType).as("n"))
          .groupBy($"source").agg(sum($"n").as("toks")))
      def at(budget: Long): org.apache.spark.sql.DataFrame =
        bySource
          .select($"toks", expr(s"(toks + ${budget - 1}) div $budget").as("bins"))
          .agg(sum($"toks").cast(LongType).as("total_tokens"),
            sum($"bins").cast(LongType).as("n_bins"))
          .select(lit(budget).as("budget"), $"total_tokens", $"n_bins",
            ($"n_bins" * budget - $"total_tokens").as("padding_tokens"),
            (floor($"total_tokens" * 1000000.0 / ($"n_bins" * budget) + 0.5)
              / 1000000.0).as("utilization"))
      at(512L).unionByName(at(2048L)).unionByName(at(8192L))
        .orderBy($"budget")
    },
    Some {
      def at(b: Long, tag: String): String =
        s"""a$tag AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_tokens,
            CAST(SUM((toks + $b - 1) // $b) AS BIGINT) AS n_bins
          FROM src),
        f$tag AS (SELECT $b AS budget, total_tokens, n_bins,
            n_bins * $b - total_tokens AS padding_tokens,
            FLOOR(total_tokens * 1000000.0 / (n_bins * $b) + 0.5) / 1000000.0 AS utilization
          FROM a$tag)"""
      s"""WITH t AS (SELECT source,
        CAST(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n
      FROM documents),
      src AS (SELECT source, CAST(SUM(n) AS BIGINT) AS toks FROM t GROUP BY 1),
      ${at(512L, "a")},
      ${at(2048L, "b")},
      ${at(8192L, "c")},
      allb AS (SELECT * FROM fa UNION ALL SELECT * FROM fb UNION ALL SELECT * FROM fc)
      SELECT * FROM allb ORDER BY budget"""
    }
  )

  /** Dedup ROI in TOKENS: per source, total tokens vs tokens in the
    * keep-first exact-dedup survivor set, and the share saved — the
    * number that justifies (or doesn't) running the dedup stage at all,
    * and the one a storage/training-cost forecast consumes. Survivor =
    * minimum doc_id per fingerprint, decided on the 16-byte md5
    * relation (text never joins); token counting is map-side; two
    * keyed rollups. */
  val qDedupSavings = GraftQuery(
    "q_dedup_savings",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val d = Tables.documents(s, dir).select($"doc_id", $"source",
        TextAnalysis.tokenCount($"text").cast(LongType).as("n_tok"),
        TextAnalysis.fingerprint($"text").as("fp"))
      val keep = d.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id").withColumn("kept", lit(1))
      d.join(broadcast(keep), Seq("doc_id"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_tok").cast(LongType).as("total_tokens"),
          coalesce(sum(when($"kept" === 1, $"n_tok")), lit(0L)).cast(LongType)
            .as("surviving_tokens"))
        .withColumn("tokens_saved", $"total_tokens" - $"surviving_tokens")
        .withColumn("saved_share",
          floor(($"total_tokens" - $"surviving_tokens") * 1000000.0
            / greatest($"total_tokens", lit(1L)) + 0.5) / 1000000.0)
        .orderBy($"source")
    },
    Some("""WITH d AS (SELECT doc_id, source,
        CAST(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tok,
        md5(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fp
      FROM documents),
      keep AS (SELECT MIN(doc_id) AS doc_id FROM d GROUP BY fp)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        CAST(COALESCE(SUM(CASE WHEN k.doc_id IS NOT NULL THEN n_tok END), 0) AS BIGINT) AS surviving_tokens,
        CAST(SUM(n_tok) - COALESCE(SUM(CASE WHEN k.doc_id IS NOT NULL THEN n_tok END), 0) AS BIGINT) AS tokens_saved,
        FLOOR((SUM(n_tok) - COALESCE(SUM(CASE WHEN k.doc_id IS NOT NULL THEN n_tok END), 0)) * 1000000.0
          / GREATEST(SUM(n_tok), 1) + 0.5) / 1000000.0 AS saved_share
      FROM d LEFT JOIN keep k ON d.doc_id = k.doc_id
      GROUP BY source ORDER BY source""")
  )

  /** Mixture EPOCH allocation — the per-source repeat-factor table every
    * training run publishes (weight %, epochs, tokens; the Gopher/LLaMA
    * data-table shape): token counts per source, a √-temperature target
    * mixture over TOKENS (τ = 0.5 upweights small sources — the
    * standard multilingual/multi-source smoothing; q_temperature_sample
    * is the same rule applied to per-doc SAMPLING by language), a 2×
    * corpus token budget, and the 4-epoch repetition cap that decides
    * where the mixture is infeasible (shortfall > 0 means "this source
    * runs out even at 4 epochs — renormalize or accept the deficit").
    *
    * Cross-engine exactness: weights quantize to floor(√n·1000 + 0.5)
    * (IEEE sqrt is correctly rounded everywhere), then EVERY derived
    * number is integer div on int64 — no engine compares a derived
    * double. Int64 headroom: budget·w_q peaks ~1.3e10 at testdata scale
    * and ~6e25 at 100 TB — widen those two products to DECIMAL(38,0)
    * there; the div discipline is unchanged. Plan: one corpus rollup to
    * sources-sized rows, a 1-row broadcast of the totals, map-side
    * arithmetic — one data shuffle total. */
  val qMixAllocation = GraftQuery(
    "q_mix_allocation",
    (s, dir) => {
      import s.implicits._
      val per = Tables.documents(s, dir)
        .select($"source", size(TextAnalysis.tokens($"text")).cast("long").as("n"))
        .groupBy($"source").agg(sum($"n").as("n_tokens"))
        .withColumn("w_q", floor(sqrt($"n_tokens".cast("double")) * 1000.0 + 0.5).cast("long"))
      val tot = per.agg(sum($"w_q").as("w_sum"), (sum($"n_tokens") * 2L).as("budget"))
      per.crossJoin(broadcast(tot))
        .withColumn("weight_ppm", expr("w_q * 1000000 div w_sum"))
        .withColumn("target_tokens", expr("budget * w_q div w_sum"))
        .withColumn("epochs_ppm", expr("target_tokens * 1000000 div n_tokens"))
        .withColumn("capped", ($"epochs_ppm" > 4000000L).cast("int"))
        .withColumn("alloc_tokens", least($"target_tokens", $"n_tokens" * 4L))
        .withColumn("shortfall_tokens", $"target_tokens" - $"alloc_tokens")
        .select($"source", $"n_tokens", $"weight_ppm", $"target_tokens",
          $"epochs_ppm", $"capped", $"alloc_tokens", $"shortfall_tokens")
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT source,
        CAST(LEN(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n
      FROM documents),
      per AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
          CAST(FLOOR(SQRT(CAST(SUM(n) AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT) AS w_q
        FROM t GROUP BY source),
      tot AS (SELECT CAST(SUM(w_q) AS BIGINT) AS w_sum,
          CAST(SUM(n_tokens) * 2 AS BIGINT) AS budget FROM per),
      a AS (SELECT source, n_tokens,
          w_q * 1000000 // w_sum AS weight_ppm,
          budget * w_q // w_sum AS target_tokens
        FROM per, tot),
      b AS (SELECT source, n_tokens, weight_ppm, target_tokens,
          target_tokens * 1000000 // n_tokens AS epochs_ppm,
          LEAST(target_tokens, n_tokens * 4) AS alloc_tokens
        FROM a)
      SELECT source, n_tokens, weight_ppm, target_tokens, epochs_ppm,
        CASE WHEN epochs_ppm > 4000000 THEN 1 ELSE 0 END AS capped,
        alloc_tokens, target_tokens - alloc_tokens AS shortfall_tokens
      FROM b ORDER BY source""")
  )

  /** NEYMAN optimal stratified-sample allocation (Neyman 1934): sample
    * size n_h ∝ N_h·σ_h per stratum — the allocation that minimizes the
    * estimator variance of a stratified mean under a fixed total budget
    * (here 1000 rows across customer market segments, the value being
    * order totals). The survey-sampling sibling of q_mix_allocation's
    * token quota and q_stratified_sample's balanced draw: this is the
    * operator that decides HOW MANY to draw per stratum before either
    * of those draws anything.
    *
    * Cross-engine exactness: order totals quantize to exact cents via
    * DECIMAL(18,2) (the q_gini pattern), so Σx and Σx² are exact
    * DECIMAL(38,0)/HUGEINT; population variance = (N·Σx² − (Σx)²)/N²
    * reaches a double only through one cast-of-exact-rational and one
    * division (both correctly rounded, engine-identical), σ_h through
    * one IEEE sqrt, then floor(σ·1e6) pins it to int64 micros — every
    * derived number after that (weights, ppm shares, the allocation) is
    * integer multiply / integral div, widened through DECIMAL(38,0)/
    * HUGEINT where 1000·N_h·σ_micro exceeds int64. Truncating division
    * means Σ alloc_n ≤ 1000 (documented; largest-remainder top-up is a
    * presentation choice, not a statistics one).
    *
    * Scale: one corpus-rollup to segment-sized rows (the orders→customer
    * join is the same shuffle q_join_segment_revenue carries), a 1-row
    * broadcast of the weight total, map-side arithmetic. */
  val qNeymanAlloc = GraftQuery(
    "q_neyman_alloc",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val cents = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), $"o_custkey" === $"c_custkey")
        .select($"c_mktsegment".as("segment"),
          ($"o_totalprice".cast(DecimalType(18, 2)) * 100)
            .cast(DecimalType(38, 0)).as("cents"))
      val st = cents.groupBy($"segment").agg(
          count(lit(1)).as("n_rows"),
          sum($"cents").as("s1"),
          sum($"cents" * $"cents").as("s2"))
        .withColumn("var_cents2",
          ($"n_rows" * $"s2" - $"s1" * $"s1").cast("double") /
            ($"n_rows" * $"n_rows").cast("double"))
        .withColumn("sd_micro", floor(sqrt($"var_cents2") * 1e6).cast("long"))
        .withColumn("w",
          $"n_rows".cast(DecimalType(38, 0)) * $"sd_micro")
      val tot = st.agg(sum($"w").as("w_sum"))
      st.crossJoin(broadcast(tot))
        .withColumn("share_ppm", expr("CAST(w * 1000000 div w_sum AS BIGINT)"))
        .withColumn("alloc_n", expr("CAST(w * 1000 div w_sum AS BIGINT)"))
        .select($"segment", $"n_rows", $"sd_micro", $"share_ppm", $"alloc_n")
        .orderBy($"segment")
    },
    Some("""WITH c AS (SELECT c_mktsegment AS segment,
        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey),
      st AS (SELECT segment, COUNT(*) AS n_rows,
          SUM(cents) AS s1, SUM(cents * cents) AS s2
        FROM c GROUP BY segment),
      sd AS (SELECT segment, n_rows,
          CAST(FLOOR(SQRT(CAST(n_rows * s2 - s1 * s1 AS DOUBLE) /
            CAST(n_rows * n_rows AS DOUBLE)) * 1e6) AS BIGINT) AS sd_micro
        FROM st),
      w AS (SELECT segment, n_rows, sd_micro,
          CAST(n_rows AS HUGEINT) * sd_micro AS w FROM sd),
      tot AS (SELECT SUM(w) AS w_sum FROM w)
      SELECT segment, n_rows, sd_micro,
        CAST(w * 1000000 // w_sum AS BIGINT) AS share_ppm,
        CAST(w * 1000 // w_sum AS BIGINT) AS alloc_n
      FROM w, tot ORDER BY segment""")
  )

  private val LrRounds = 20

  /** LEARNED quality filter, trained IN-PLAN — the fastText-distillation
    * pattern: label every document with the rule-based Gopher gate
    * (q_gopher_filter's keep bit), then fit a linear scorer over three
    * CHEAP features (saturating length, stopword ppm, punctuation ppm)
    * by 20 rounds of full-batch gradient descent (step ×8) with a HARD
    * sigmoid (clamp(½ + z/4)) — the model that replaces the expensive
    * rule cascade on the fast path, scored by held-out accuracy
    * (doc_id % 5 is the validation fifth; gradients never see it). At
    * the gate SF it learns the gate for real: ~94% train / 96% held-out
    * vs a 74% majority base rate.
    *
    * Why hard sigmoid: exp() is not correctly-rounded IEEE, so a true
    * logistic would drift across engines; the piecewise-linear gate
    * keeps EVERY training step in integer arithmetic — features in ppm,
    * weights at 1e6 scale, and every division shifted non-negative
    * ((a + S·b) div b − S, shifts sized for |w| ≤ 1.6e8 worst-case) so
    * Spark's truncating div, DuckDB's flooring `//` and Scala's / agree
    * on every operand. The DuckDB oracle replays the whole loop: 20
    * gradient CTE rounds threading 1-row weight relations, then the
    * final forward pass and both accuracies — the learned WEIGHTS
    * themselves are hash-gated, not just the report.
    *
    * Scale: one corpus pass builds the cached ppm feature relation;
    * each round is ONE partial-aggregated 5-column sum (map-side
    * combine, a 1-row collect — the BPE-merge discipline, rounds are
    * plans over the cached base so lineage never grows). Int64
    * headroom: Σ e·f ≤ 1e12·n — widen the four sums to DECIMAL(38,0)
    * past ~10⁶ docs per partition-merge; the shifted-div discipline is
    * unchanged. */
  val qQualityLogreg = GraftQuery(
    "q_quality_logreg",
    (s, dir) => qualityLogregFrame(s, dir),
    Some(logregOracleSql(LrRounds))
  )

  /** q_quality_logreg's engine body, factored so the spec can pin the
    * two gradient-loop paths equal (same discipline as
    * [[CorpusStatsQueries.nmfTopicsFrame]]). Corpora whose cached
    * feature relation is ≤ [[graft.operators.DriverLoop.maxRows]] rows
    * collect the TRAIN split's four integer features once and run the
    * 20 full-batch rounds in a driver while-loop — one collect instead
    * of 20 sequential 1-row-aggregate jobs (the r15 small-state routing
    * discipline; at ~32 B/row the 2e6 bound keeps this to tens of MB of
    * driver heap). Every arithmetic step is replicated operation for
    * operation: the same Long products in the same
    * shifted-non-negative truncating divisions (Spark `div` ≡ Java `/`
    * on the shifted operands), Long sums that wrap identically in
    * either engine, and the SAME driver-side update code both branches
    * share — so the trajectory is bit-identical and the unrolled-CTE
    * oracle hash-gates it. The final forward pass and both accuracies
    * stay distributed (one job) in both branches. */
  private[graft] def qualityLogregFrame(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    locally {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      val nToks = size(toks).cast("long")
      val nStop = size(filter(toks,
        t => t.isin(TextAnalysis.Stopwords("en"): _*))).cast("long")
      val nPunct = coalesce(regexp_count($"text", lit("[^\\w\\s]")), lit(0))
        .cast("long")
      val feats = graft.operators.Caches.register(
        Tables.documents(s, dir).select(
          $"doc_id",
          lit(1000000L).as("f0"),
          (least(nToks, lit(100L)) * 10000L).as("f1"),
          (nStop * 1000000L).as("stop_num"),
          greatest(nToks, lit(1L)).as("toks1"),
          (nPunct * 1000000L).as("punct_num"),
          greatest(length($"text").cast("long"), lit(1L)).as("chars1"),
          TextAnalysis.gopherKeepBit($"text").cast("long").as("y"),
          ($"doc_id" % 5 === 0).as("is_val"))
        .selectExpr("doc_id", "f0", "f1",
          "stop_num div toks1 as f2", "punct_num div chars1 as f3",
          "y", "is_val"))
      def pExpr(w: Array[Long]): String = {
        val z = s"(${w(0)} * f0 + ${w(1)} * f1 + ${w(2)} * f2 + ${w(3)} * f3)"
        val sE = s"(($z + 1000000000000000) div 1000000 - 1000000000)"
        s"greatest(cast(0 as bigint), least(cast(1000000 as bigint), " +
          s"500000 + (($sE + 4000000000) div 4 - 1000000000)))"
      }
      // the SAME update code closes both branches — it cannot drift
      def updated(w: Array[Long], g: Array[Long], n: Long): Array[Long] =
        w.zipWithIndex.map { case (wj, j) =>
          val grad = (g(j) + 1000000000000L * n) / n - 1000000000000L
          wj - ((grad * 8L + 100000000000000L) / 1000000L - 100000000L)
        }
      var w = Array(0L, 0L, 0L, 0L)
      // the count materializes the feature cache (the loop needs it
      // warm either way) and gates the routing
      val nFeats = feats.count()
      if (nFeats <= DriverLoop.maxRows) {
        // collect the TRAIN split's integer features once into primitive
        // arrays (f0 is the constant 1e6; toLocalIterator bounds boxed
        // Rows to one partition at a time) and run the 20 rounds as
        // driver while-loops — bit-identical arithmetic, see scaladoc
        val f1b = new scala.collection.mutable.ArrayBuilder.ofLong
        val f2b = new scala.collection.mutable.ArrayBuilder.ofLong
        val f3b = new scala.collection.mutable.ArrayBuilder.ofLong
        val yb = new scala.collection.mutable.ArrayBuilder.ofLong
        val it = feats.filter(!$"is_val")
          .select($"f1", $"f2", $"f3", $"y").toLocalIterator()
        while (it.hasNext) {
          val r = it.next()
          f1b += r.getLong(0); f2b += r.getLong(1)
          f3b += r.getLong(2); yb += r.getLong(3)
        }
        val f1a = f1b.result(); val f2a = f2b.result()
        val f3a = f3b.result(); val ya = yb.result()
        val m = f1a.length
        for (_ <- 1 to LrRounds) {
          var g0 = 0L; var g1 = 0L; var g2 = 0L; var g3 = 0L
          var i = 0
          while (i < m) {
            val z = w(0) * 1000000L + w(1) * f1a(i) +
              w(2) * f2a(i) + w(3) * f3a(i)
            val sE = (z + 1000000000000000L) / 1000000L - 1000000000L
            val pr = 500000L + ((sE + 4000000000L) / 4L - 1000000000L)
            val p = if (pr < 0L) 0L else if (pr > 1000000L) 1000000L else pr
            val e = p - ya(i) * 1000000L
            g0 += e * 1000000L; g1 += e * f1a(i)
            g2 += e * f2a(i); g3 += e * f3a(i)
            i += 1
          }
          w = updated(w, Array(g0, g1, g2, g3), m.toLong)
        }
      } else {
        for (_ <- 1 to LrRounds) {
          val e = s"(${pExpr(w)} - y * 1000000)"
          val r = feats.filter(!$"is_val").selectExpr(
            s"sum($e * f0) as g0", s"sum($e * f1) as g1",
            s"sum($e * f2) as g2", s"sum($e * f3) as g3",
            "count(1) as n").head()
          w = updated(w, Array(r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)), r.getLong(4))
        }
      }
      val p = pExpr(w)
      feats.agg(
          expr("sum(case when is_val then 0 else 1 end)").as("n_train"),
          expr("sum(case when is_val then 1 else 0 end)").as("n_val"),
          expr(s"sum(case when not is_val and (($p >= 500000) = (y = 1)) " +
            "then 1 else 0 end)").as("ct"),
          expr(s"sum(case when is_val and (($p >= 500000) = (y = 1)) " +
            "then 1 else 0 end)").as("cv"))
        .selectExpr(
          s"cast(${w(0)} as bigint) as w0", s"cast(${w(1)} as bigint) as w1",
          s"cast(${w(2)} as bigint) as w2", s"cast(${w(3)} as bigint) as w3",
          "cast(n_train as bigint) as n_train", "cast(n_val as bigint) as n_val",
          "ct * 1000000 div n_train as train_acc_ppm",
          "cv * 1000000 div n_val as val_acc_ppm")
    }
  }

  /** The full training-loop replay: feature CTE (the q_gopher_filter
    * label SQL plus the three ppm features), then per round a gradient
    * CTE over the train split and a 1-row weight CTE applying the
    * shifted-div update, ending with the final forward pass and both
    * split accuracies. Every arithmetic step mirrors the Scala loop's
    * operand order exactly — see the query docstring. */
  private def logregOracleSql(rounds: Int): String = {
    def pSql(w: String) =
      s"""GREATEST(CAST(0 AS BIGINT), LEAST(CAST(1000000 AS BIGINT),
         500000 + (((((($w.w0 * f.f0 + $w.w1 * f.f1 + $w.w2 * f.f2 + $w.w3 * f.f3)
           + 1000000000000000) // 1000000 - 1000000000) + 4000000000) // 4) - 1000000000)))"""
    def upd(wp: String, g: String, j: Int) =
      s"""$wp.w$j - (((((($g.g$j + 1000000000000 * $g.n) // $g.n - 1000000000000) * 8)
         + 100000000000000) // 1000000) - 100000000) AS w$j"""
    val roundCtes = (1 to rounds).map { r =>
      val wp = s"w${r - 1}"
      s"""g$r AS MATERIALIZED (SELECT
          SUM((${pSql(wp)} - f.y * 1000000) * f.f0) AS g0,
          SUM((${pSql(wp)} - f.y * 1000000) * f.f1) AS g1,
          SUM((${pSql(wp)} - f.y * 1000000) * f.f2) AS g2,
          SUM((${pSql(wp)} - f.y * 1000000) * f.f3) AS g3,
          COUNT(*) AS n
        FROM f, $wp WHERE NOT f.is_val),
      w$r AS MATERIALIZED (SELECT ${(0 to 3).map(j => upd(wp, s"g$r", j)).mkString(",\n        ")}
        FROM $wp, g$r)"""
    }.mkString(",\n")
    val wf = s"w$rounds"
    s"""WITH t AS MATERIALIZED (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS MATERIALIZED (SELECT doc_id, text, toks,
        CASE WHEN TRIM(text) = '' THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\\s+')) END AS ws,
        CAST(COALESCE(list_sum(list_transform(toks, x -> LENGTH(x))), 0) AS DOUBLE) / GREATEST(LEN(toks), 1) AS mean_len,
        LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS n_stop,
        CAST(LEN(list_distinct(CASE WHEN LEN(toks) < 5 THEN [array_to_string(toks, ' ')]
          ELSE [array_to_string(toks[i+1:i+5], ' ') FOR i IN range(0, LEN(toks)-4)] END)) AS DOUBLE)
          / (CASE WHEN LEN(toks) < 5 THEN 1 ELSE LEN(toks) - 4 END) AS uniq_ratio,
        LEN(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
      FROM t),
      lbl AS MATERIALIZED (SELECT doc_id,
        CAST(ws >= 30 AND ws <= 50000 AS INT) *
        CAST(mean_len >= 2.0 AND mean_len <= 12.0 AS INT) *
        CAST(CAST(n_stop AS DOUBLE) / GREATEST(LEN(toks), 1) >= 0.02 AS INT) *
        CAST(uniq_ratio >= 0.3 AS INT) *
        CAST(CAST(n_punct AS DOUBLE) / GREATEST(LENGTH(text), 1) <= 0.1 AS INT) AS keep
      FROM m),
      f AS MATERIALIZED (SELECT m.doc_id,
        CAST(1000000 AS BIGINT) AS f0,
        CAST(LEAST(LEN(m.toks), 100) * 10000 AS BIGINT) AS f1,
        CAST(m.n_stop * 1000000 // GREATEST(LEN(m.toks), 1) AS BIGINT) AS f2,
        CAST(m.n_punct * 1000000 // GREATEST(LENGTH(m.text), 1) AS BIGINT) AS f3,
        CAST(lbl.keep AS BIGINT) AS y,
        m.doc_id % 5 = 0 AS is_val
      FROM m JOIN lbl ON m.doc_id = lbl.doc_id),
      w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
        CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
      $roundCtes,
      acc AS MATERIALIZED (SELECT
        SUM(CASE WHEN f.is_val THEN 0 ELSE 1 END) AS n_train,
        SUM(CASE WHEN f.is_val THEN 1 ELSE 0 END) AS n_val,
        SUM(CASE WHEN NOT f.is_val AND ((${pSql(wf)} >= 500000) = (f.y = 1))
          THEN 1 ELSE 0 END) AS ct,
        SUM(CASE WHEN f.is_val AND ((${pSql(wf)} >= 500000) = (f.y = 1))
          THEN 1 ELSE 0 END) AS cv
      FROM f, $wf)
      SELECT CAST($wf.w0 AS BIGINT) AS w0, CAST($wf.w1 AS BIGINT) AS w1,
        CAST($wf.w2 AS BIGINT) AS w2, CAST($wf.w3 AS BIGINT) AS w3,
        CAST(acc.n_train AS BIGINT) AS n_train, CAST(acc.n_val AS BIGINT) AS n_val,
        CAST(acc.ct * 1000000 // acc.n_train AS BIGINT) AS train_acc_ppm,
        CAST(acc.cv * 1000000 // acc.n_val AS BIGINT) AS val_acc_ppm
      FROM $wf, acc"""
  }

  /** CONTENT-DEFINED chunking (Rabin-style) with per-source dedup stats —
    * the shift-resistant sibling of q_chunk_dedup's fixed-stride split:
    * a chunk boundary falls after every token whose portable hash is
    * ≡ 0 (mod 16), so inserting a sentence into a document moves ONE
    * chunk's fingerprint, not every downstream chunk's (the property
    * that makes CDC the dedup layer for append-mostly corpora and
    * delta-storage). Expected chunk length = 16 tokens, set by the
    * modulus alone. The per-token hash is the same base-31 fold the
    * whole portable sketch family replays; the boundary prefix-count is
    * a per-doc window over the exploded tokens (doc-keyed shuffle), and
    * the rollup is bounded by chunk count. */
  val qCdcChunks = GraftQuery(
    "q_cdc_chunks",
    (s, dir) => {
      import s.implicits._
      val toks = Tables.documents(s, dir)
        .select($"doc_id", $"source", TextAnalysis.tokens($"text").as("toks"))
        .select($"doc_id", $"source",
          posexplode(arrays_zip($"toks",
            graft.expressions.TextHashExprs
              .positionalShingleHashes64($"toks", 1, portable = true).as("h"))))
        .select($"doc_id", $"source", $"pos",
          $"col.toks".as("tok"), $"col.h".as("h"))
      val cid = toks
        .withColumn("bnd", ($"h" % 16 === 0).cast("long"))
        .withColumn("chunk_id", coalesce(
          sum($"bnd").over(Window.partitionBy($"doc_id").orderBy($"pos")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val chunks = cid.groupBy($"doc_id", $"source", $"chunk_id")
        .agg(count(lit(1)).as("n_tokens"),
          md5(array_join(
            transform(array_sort(collect_list(struct($"pos", $"tok"))),
              x => x.getField("tok")), " ")).as("fp"))
      chunks.groupBy($"source")
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct($"fp").as("n_distinct"),
          round(lit(1.0) - countDistinct($"fp").cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 6).as("dup_ratio"),
          round(sum($"n_tokens").cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 6).as("avg_chunk_tokens"))
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT doc_id, source,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      tok AS (SELECT doc_id, source, CAST(i AS INT) AS pos, ts[i + 1] AS tok,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(ts[i + 1], '.'), c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007) AS h
        FROM t, UNNEST([j FOR j IN range(LEN(ts))]) AS u(i)),
      b AS (SELECT doc_id, source, pos, tok,
          CASE WHEN h % 16 = 0 THEN 1 ELSE 0 END AS bnd FROM tok),
      cid AS (SELECT doc_id, source, pos, tok,
          COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
        FROM b),
      ch AS (SELECT doc_id, source, chunk_id, COUNT(*) AS n_tokens,
          md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
        FROM cid GROUP BY 1, 2, 3)
      SELECT source, COUNT(*) AS n_chunks, COUNT(DISTINCT fp) AS n_distinct,
        ROUND(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
          AS dup_ratio,
        ROUND(CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
          AS avg_chunk_tokens
      FROM ch GROUP BY source ORDER BY source""")
  )

  /** RAKING (iterative proportional fitting) of the customer
    * segment × region panel to uniform margins — the 2-D generalization
    * of q_mix_allocation's 1-D quota, and the standard reweighting step
    * when a corpus must match target marginals on two attributes at
    * once (survey weighting; domain × language rebalancing). Three full
    * IPF rounds (row-scale then column-scale), with weights held in
    * INTEGER MICRO-UNITS and every scaling a floor(w·ratio + 0.5) — so
    * all six scalings unroll into window-CTE replays and the fixed
    * point is engine-exact. Cell relation is |segments|×|regions|;
    * every window partitions by a margin key. */
  val qRaking = GraftQuery(
    "q_raking",
    (s, dir) => {
      import s.implicits._
      val cells = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"c_mktsegment".as("seg"), $"r_name".as("reg"))
        .agg(count(lit(1)).as("n"))
      val tot = cells.agg((sum($"n") * lit(1000000L)).as("t"))
      def scaleTo(df: org.apache.spark.sql.DataFrame, key: String) =
        df.withColumn("gs", sum($"w").over(Window.partitionBy(col(key))))
          .withColumn("w", floor($"w".cast(DoubleType) *
            (($"t".cast(DoubleType) / lit(5.0)) / $"gs".cast(DoubleType)) +
            lit(0.5)).cast("long"))
          .drop("gs")
      var w = cells.crossJoin(broadcast(tot))
        .withColumn("w", $"n" * lit(1000000L))
      for (_ <- 1 to 3) {
        w = scaleTo(w, "seg")
        w = scaleTo(w, "reg")
      }
      w.withColumn("row_sum", sum($"w").over(Window.partitionBy($"seg")))
        .select($"seg", $"reg", $"n",
          round($"w".cast(DoubleType) / lit(1000000.0), 6).as("weight"),
          floor(abs($"row_sum".cast(DoubleType) - $"t".cast(DoubleType) / lit(5.0)) /
            ($"t".cast(DoubleType) / lit(5.0)) * lit(1000000.0) + lit(0.5))
            .cast("long").as("row_err_ppm"))
        .orderBy($"seg", $"reg")
    },
    Some {
      val sb = new StringBuilder
      sb.append("""WITH cells AS (SELECT c_mktsegment AS seg, r_name AS reg, COUNT(*) AS n
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
      tt AS (SELECT CAST(SUM(n) * 1000000 AS BIGINT) AS t FROM cells),
      w0 AS (SELECT seg, reg, n, CAST(n * 1000000 AS BIGINT) AS w, t
        FROM cells, tt)""")
      var prev = "w0"
      var idx = 0
      for (_ <- 1 to 3; key <- Seq("seg", "reg")) {
        idx += 1
        sb.append(s""",
      w$idx AS (SELECT seg, reg, n, t,
          CAST(FLOOR(CAST(w AS DOUBLE) *
            ((CAST(t AS DOUBLE) / 5.0) / CAST(SUM(w) OVER (PARTITION BY $key) AS DOUBLE))
            + 0.5) AS BIGINT) AS w
        FROM $prev)""")
        prev = s"w$idx"
      }
      sb.append(s"""
      SELECT seg, reg, n,
        ROUND(CAST(w AS DOUBLE) / 1000000.0, 6) AS weight,
        CAST(FLOOR(ABS(CAST(SUM(w) OVER (PARTITION BY seg) AS DOUBLE)
            - CAST(t AS DOUBLE) / 5.0) / (CAST(t AS DOUBLE) / 5.0) * 1000000.0 + 0.5)
          AS BIGINT) AS row_err_ppm
      FROM $prev ORDER BY seg, reg""")
      sb.toString
    }
  )

  /** DSIR-style importance resampling (Xie et al.'s data-selection
    * recipe reduced to its deterministic core): hashed-unigram bag
    * features (portable base-31 token hash into 1024 buckets), add-1
    * smoothed unigram LMs for the TARGET domain (sources src0–src3)
    * and the RAW pool (everything else), per-document importance weight
    * log p_target(x) − log p_raw(x), and selection of the top-20% raw
    * documents by weight. Each bucket's log-likelihood ratio is
    * quantized to ppm ONCE (from exact integer counts), so per-document
    * weights are integer sums — order-independent and replayable. Scale
    * shape: two token-bucket rollups (1024 rows) + one per-doc integer
    * aggregate; the global top-20% rank is a doc-count window — at
    * 100 TB you'd replace it with a weight-threshold selected from the
    * 1024-row LLR table's quantiles, leaving everything else unchanged. */
  val qDsir = GraftQuery(
    "q_dsir",
    (s, dir) => {
      import s.implicits._
      val P = 1000000007L
      val fold = (acc: Column, v: Column) => (acc * lit(31L) + v) % lit(P)
      val tokHash = (t: Column) => aggregate(
        transform(filter(split(t, ""), c => length(c) > 0),
          c => ascii(c).cast("long")),
        lit(0L), fold)
      val tok = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select($"doc_id", $"source",
            $"source".isin("src0", "src1", "src2", "src3").as("is_t"),
            explode(TextAnalysis.tokens($"text")).as("tok"))
          .withColumn("bk", tokHash($"tok") % 1024))
      val bc = tok.groupBy($"bk").agg(
        sum(when($"is_t", 1L).otherwise(0L)).as("ct"),
        sum(when($"is_t", 0L).otherwise(1L)).as("cr"))
      val tot = bc.agg(sum($"ct").as("tt"), sum($"cr").as("tr"))
      val llr = bc.crossJoin(broadcast(tot))
        .select($"bk", floor(
          log(($"ct" + 1.0) * ($"tr" + 1024.0) / (($"cr" + 1.0) * ($"tt" + 1024.0)))
            * 1e6 + 0.5).cast("long").as("l"))
      val dw = tok.filter(!$"is_t")
        .groupBy($"doc_id", $"source", $"bk").agg(count(lit(1)).as("c"))
        .join(llr, "bk")
        .groupBy($"doc_id", $"source").agg(sum($"c" * $"l").as("w"))
      val k = dw.agg(expr("count(1) DIV 5").as("k"))
      dw.withColumn("rn", row_number().over(Window.orderBy($"w".desc, $"doc_id")))
        .crossJoin(broadcast(k))
        .withColumn("sel", when($"rn" <= $"k", 1L).otherwise(0L))
        .groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          sum($"sel").as("n_selected"),
          coalesce(
            round(sum(when($"sel" === 1L, $"w")).cast(DoubleType) /
              nullif(sum($"sel"), lit(0)).cast(DoubleType), 6),
            lit(0.0)).as("avg_sel_weight_ppm"))
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT doc_id, source,
        source IN ('src0','src1','src2','src3') AS is_t,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      tok AS (SELECT doc_id, source, is_t,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(u.tok, '.'), c -> CAST(ord(c) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % 1000000007) % 1024 AS bk
      FROM t, UNNEST(ts) AS u(tok)),
      bc AS (SELECT bk, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
      FROM tok GROUP BY 1),
      tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS tr FROM bc),
      llr AS (SELECT bk, CAST(FLOOR(
          LN((ct + 1.0) * (tr + 1024.0) / ((cr + 1.0) * (tt + 1024.0))) * 1e6 + 0.5)
          AS BIGINT) AS l
        FROM bc, tot),
      dt AS (SELECT doc_id, source, bk, COUNT(*) AS c FROM tok WHERE NOT is_t
        GROUP BY 1, 2, 3),
      dw AS (SELECT doc_id, source, CAST(SUM(c * l) AS BIGINT) AS w
        FROM dt JOIN llr USING (bk) GROUP BY 1, 2),
      kk AS (SELECT COUNT(*) // 5 AS k FROM dw),
      r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY w DESC, doc_id) AS rn FROM dw)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN rn <= k THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
        COALESCE(ROUND(CAST(SUM(CASE WHEN rn <= k THEN w END) AS DOUBLE) /
          CAST(NULLIF(SUM(CASE WHEN rn <= k THEN 1 ELSE 0 END), 0) AS DOUBLE), 6), 0.0)
          AS avg_sel_weight_ppm
      FROM r, kk GROUP BY source ORDER BY source""")
  )

  /** Small-file compaction planner: the greedy streaming packer every
    * warehouse writer implements (close a shard once its fill passes
    * the target), expressed as a prefix-sum window — shard index =
    * ⌊bytes-before / target⌋ over docs in (source, doc_id) order, so a
    * shard keeps accepting until it crosses 2048 bytes and the doc that
    * crosses stays with it. Emits the plan a compaction job would
    * execute: per-shard doc count, bytes and fill ratio. Scale shape:
    * one partitioned window per source (the 100 TB layout: one planner
    * task per table partition), no data movement — the plan is metadata. */
  val qCompactionPlan = GraftQuery(
    "q_compaction_plan",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"source").orderBy($"doc_id")
      Tables.documents(s, dir).select($"doc_id", $"source", $"n_chars")
        .withColumn("cum", sum($"n_chars").over(w))
        .withColumn("shard", expr("(cum - n_chars) DIV 2048"))
        .groupBy($"source", $"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("bytes"))
        .withColumn("fill_ratio", round($"bytes".cast(DoubleType) / 2048.0, 6))
        .orderBy($"source", $"shard")
    },
    Some("""WITH c AS (SELECT doc_id, source, n_chars,
        SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents),
      sh AS (SELECT source, CAST((cum - n_chars) // 2048 AS BIGINT) AS shard, n_chars FROM c)
      SELECT source, shard, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS bytes,
        ROUND(CAST(SUM(n_chars) AS DOUBLE) / 2048.0, 6) AS fill_ratio
      FROM sh GROUP BY 1, 2 ORDER BY source, shard""")
  )

  /** Hashing-trick quality audit: per-source token vectors are hashed
    * into 64 buckets (the portable base-31 fold — the q_dsir bucketing
    * promoted to a featurizer) and every source pair's cosine similarity
    * is computed twice — over exact token counts and over the hashed
    * 64-dim vectors — so the output quantifies exactly how much signal
    * the collision compression costs (hashed cosine is biased UP: 64
    * buckets ≪ vocab forces collisions). Dot products are exact BIGINT
    * sums (order-free); each cosine is one double expression. Scale
    * shape: token-keyed rollups; the exact-pair join fans out by
    * sources-per-token (≤20), the hashed side is 64×20 rows — no
    * corpus-sized cross product. */
  val qFeatureHash = GraftQuery(
    "q_feature_hash",
    (s, dir) => {
      import s.implicits._
      val P = 1000000007L
      val fold = (acc: Column, v: Column) => (acc * lit(31L) + v) % lit(P)
      val tokHash = (t: Column) => aggregate(
        transform(filter(split(t, ""), c => length(c) > 0),
          c => ascii(c).cast("long")),
        lit(0L), fold)
      val tok = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select($"source", explode(TextAnalysis.tokens($"text")).as("tok"))
          .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
          .withColumn("bk", tokHash($"tok") % 64L))
      def cosPairs(df: org.apache.spark.sql.DataFrame, key: String, out: String) = {
        val dot = df.as("a").join(df.as("b"),
            col(s"a.$key") === col(s"b.$key") &&
              col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(sum(col("a.c") * col("b.c")).as("dot"))
        val nrm = df.groupBy($"source").agg(sum($"c" * $"c").as("nn"))
        dot
          .join(broadcast(nrm.select($"source".as("src_a"), $"nn".as("na"))), "src_a")
          .join(broadcast(nrm.select($"source".as("src_b"), $"nn".as("nb"))), "src_b")
          .select($"src_a", $"src_b",
            ($"dot".cast(DoubleType) /
              sqrt($"na".cast(DoubleType)) / sqrt($"nb".cast(DoubleType))).as(out))
      }
      val exact = cosPairs(tok, "tok", "cos_exact")
      val hashed = cosPairs(
        tok.groupBy($"source", $"bk").agg(sum($"c").as("c")), "bk", "cos_hashed")
      exact.join(hashed, Seq("src_a", "src_b"))
        .select($"src_a", $"src_b",
          round($"cos_exact", 6).as("cos_exact"),
          round($"cos_hashed", 6).as("cos_hashed"),
          round(abs($"cos_hashed" - $"cos_exact"), 6).as("distortion"))
        .orderBy($"src_a", $"src_b")
    },
    Some("""WITH occ AS (SELECT source,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> x <> '')) AS tok
      FROM documents),
      tok AS (SELECT source, tok, COUNT(*) AS c,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(tok, '.'),
              ch -> CAST(ord(ch) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007) % 64 AS bk
        FROM occ GROUP BY 1, 2),
      hb AS (SELECT source, bk, CAST(SUM(c) AS BIGINT) AS c FROM tok GROUP BY 1, 2),
      de AS (SELECT a.source AS src_a, b.source AS src_b,
          CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2),
      dh AS (SELECT a.source AS src_a, b.source AS src_b,
          CAST(SUM(a.c * b.c) AS BIGINT) AS dot
        FROM hb a JOIN hb b ON a.bk = b.bk AND a.source < b.source
        GROUP BY 1, 2),
      ne AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS nn FROM tok GROUP BY 1),
      nh AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS nn FROM hb GROUP BY 1),
      ce AS (SELECT src_a, src_b, CAST(dot AS DOUBLE) /
          SQRT(CAST(na.nn AS DOUBLE)) / SQRT(CAST(nb.nn AS DOUBLE)) AS cos_exact
        FROM de JOIN ne na ON na.source = de.src_a JOIN ne nb ON nb.source = de.src_b),
      ch AS (SELECT src_a, src_b, CAST(dot AS DOUBLE) /
          SQRT(CAST(na.nn AS DOUBLE)) / SQRT(CAST(nb.nn AS DOUBLE)) AS cos_hashed
        FROM dh JOIN nh na ON na.source = dh.src_a JOIN nh nb ON nb.source = dh.src_b)
      SELECT src_a, src_b, ROUND(cos_exact, 6) AS cos_exact,
        ROUND(cos_hashed, 6) AS cos_hashed,
        ROUND(ABS(cos_hashed - cos_exact), 6) AS distortion
      FROM ce JOIN ch USING (src_a, src_b) ORDER BY src_a, src_b""")
  )

  val all: Seq[GraftQuery] = Seq(
    qFeatureHash,
    qDsir, qCompactionPlan,
    qMixAllocation, qNeymanAlloc, qQualityLogreg, qCdcChunks, qRaking,
    qPiiRedact, qChunkDedup, qGopherFilter, qDocLengthHist, qUrlDomains,
    qBloomDecontaminate, qPackSequences, qSourceQuota, qCurationPipeline,
    qSplitAssign, qTokenBudget, qUrlCanonicalize, qWeightedSample,
    qTemperatureSample, qBoilerplateStrip, qShardManifest, qNegativeSample,
    qSplitLeakage, qFilterSweep, qConsistentSample, qCrossSourceDup,
    qQualityCalibration, qContextLengthHist, qCurriculumShards,
    qPackEfficiency, qDedupSavings)
}
