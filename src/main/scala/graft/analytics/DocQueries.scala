package graft.analytics

import graft.{GraftQuery, Tables}
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Scale-extension queries over the documents/embeddings tables: text
  * analysis, dedup family, similarity search (the north-star operators
  * beyond the reference's own surface).
  *
  * Oracle notes: everything emitted is either integer, md5 hex, or a
  * round(…,6) of deterministic sequential double math, so DuckDB
  * reproduces it bit-for-bit. MinHash/SimHash/LSH queries have no SQL
  * equivalent (engine-specific hashing) → rows-only driver check, with
  * cross-validation against the exact operators in ScalaTest instead.
  */
object DocQueries {

  private def dec38(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(38, 0))

  /** Text quality metrics (token counting + ratios), F19 generalized. */
  val qTextStats = GraftQuery(
    "q_text_stats",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id",
          length($"text").as("chars"),
          TextAnalysis.wsTokenCount($"text").as("ws_tokens"),
          TextAnalysis.tokenCount($"text").as("alnum_tokens"),
          TextAnalysis.bpeIshTokenCount($"text").as("bpeish_tokens"),
          round(TextAnalysis.punctRatio($"text"), 6).as("punct_ratio"),
          round(TextAnalysis.stopwordRatio($"text", TextAnalysis.Stopwords("en")), 6)
            .as("stop_ratio_en"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents)
      SELECT doc_id,
        LENGTH(text) AS chars,
        CASE WHEN TRIM(text) = '' THEN 0 ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ws_tokens,
        LEN(toks) AS alnum_tokens,
        LEN(regexp_extract_all(text, '[A-Za-z]+|\d|[^A-Za-z\d\s]')) AS bpeish_tokens,
        ROUND(CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1), 6) AS stop_ratio_en
      FROM t ORDER BY doc_id""")
  )

  /** Heuristic language-ID scores + argmax prediction. */
  val qLangId = GraftQuery(
    "q_lang_id",
    (s, dir) => {
      import s.implicits._
      val scored = TextAnalysis.langScores($"text").foldLeft(Tables.documents(s, dir)) {
        case (d, (l, c)) => d.withColumn(s"s_$l", round(c, 6))
      }
      // argmax over the SAME rounded columns the oracle sees (computing it
      // from unrounded scores could disagree on sub-1e-6 ties)
      val langs = Seq("de", "en", "es", "fr", "zh")
      val best = langs.map(l => col(s"s_$l")).reduce(greatest(_, _))
      val predicted = langs.foldLeft(when(best === 0.0, "und")) { (acc, l) =>
        acc.when(col(s"s_$l") === best, l)
      }.otherwise("und")
      scored
        .withColumn("predicted", predicted)
        .select($"doc_id", $"s_de", $"s_en", $"s_es", $"s_fr", $"s_zh", $"predicted")
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      s AS (SELECT doc_id,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','den','von','sich','auf','für'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_de,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_en,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','es','por','con','no','los','las','para'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_es,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour','dans','qui','pas','sur','avec'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_fr,
        ROUND(CAST(LEN(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / GREATEST(LENGTH(text),1), 6) AS s_zh
      FROM t)
      SELECT doc_id, s_de, s_en, s_es, s_fr, s_zh,
        CASE WHEN GREATEST(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
             WHEN s_de = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
             WHEN s_en = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
             WHEN s_es = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
             WHEN s_fr = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
             ELSE 'zh' END AS predicted
      FROM s ORDER BY doc_id""")
  )

  /** Language-ID CONFUSION MATRIX: declared `lang` vs the n-gram
    * classifier's prediction, with per-cell share of the declared
    * language — the evaluation rollup that tells you whether the
    * classifier is good enough to filter on before you let it gate a
    * 100 TB corpus. Same deterministic scoring as q_lang_id (rounded
    * argmax), so the whole evaluation is hash-verifiable; the rollup is
    * |langs|² rows. */
  val qLangConfusion = GraftQuery(
    "q_lang_confusion",
    (s, dir) => {
      import s.implicits._
      val scored = TextAnalysis.langScores($"text").foldLeft(Tables.documents(s, dir)) {
        case (d, (l, c)) => d.withColumn(s"s_$l", round(c, 6))
      }
      val langs = Seq("de", "en", "es", "fr", "zh")
      val best = langs.map(l => col(s"s_$l")).reduce(greatest(_, _))
      val predicted = langs.foldLeft(when(best === 0.0, "und")) { (acc, l) =>
        acc.when(col(s"s_$l") === best, l)
      }.otherwise("und")
      val cells = scored.withColumn("predicted", predicted)
        .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
      val totals = cells.groupBy($"lang").agg(sum($"n").as("lang_total"))
      cells.join(broadcast(totals), Seq("lang"))
        .select($"lang", $"predicted", $"n",
          round($"n".cast("double") / $"lang_total", 6).as("share_of_lang"))
        .orderBy($"lang", $"predicted")
    },
    Some("""WITH t AS (SELECT doc_id, lang, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      s AS (SELECT doc_id, lang,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','den','von','sich','auf','für'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_de,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_en,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','es','por','con','no','los','las','para'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_es,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour','dans','qui','pas','sur','avec'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_fr,
        ROUND(CAST(LEN(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / GREATEST(LENGTH(text),1), 6) AS s_zh
      FROM t),
      p AS (SELECT doc_id, lang,
        CASE WHEN GREATEST(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
             WHEN s_de = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
             WHEN s_en = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
             WHEN s_es = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
             WHEN s_fr = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
             ELSE 'zh' END AS predicted
      FROM s),
      cells AS (SELECT lang, predicted, COUNT(*) AS n FROM p GROUP BY 1, 2),
      tot AS (SELECT lang, SUM(n) AS lang_total FROM cells GROUP BY lang)
      SELECT cells.lang AS lang, predicted, n,
        ROUND(CAST(n AS DOUBLE) / lang_total, 6) AS share_of_lang
      FROM cells JOIN tot ON cells.lang = tot.lang
      ORDER BY cells.lang, predicted""")
  )

  /** Exact dedup groups via normalized md5 fingerprint. */
  val qDedupExact = GraftQuery(
    "q_dedup_exact",
    (s, dir) => {
      import s.implicits._
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy($"fingerprint")
    },
    Some("""SELECT md5(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fingerprint,
        MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
      FROM documents GROUP BY 1 ORDER BY fingerprint""")
  )

  /** Exact 3-gram Jaccard near-dup pairs (shared-shingle blocked),
    * integer arithmetic end-to-end. maxDf=100 stop-shingle removal is
    * ACTIVE and mirrored in the oracle's df CTE — the DuckDB gate
    * validates the cap semantics, not just the uncapped join. */
  val qJaccardPairs = GraftQuery(
    "q_jaccard_pairs",
    (s, dir) => {
      import s.implicits._
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, minJaccard = 0.5, maxDf = 100)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+3], ' ') for i in range(0, LEN(ts)-2)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      freq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq USING (s) WHERE freq.df <= 100),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        CAST(na.n + nb.n - inter AS BIGINT) AS uni
      FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
      WHERE inter * 100 >= (na.n + nb.n - inter) * 50
      ORDER BY id_a, id_b""")
  )

  /** Containment (asymmetric Jaccard) near-dup pairs: inter ≥ 0.8 of
    * the SMALLER doc's shingle set — catches inclusion duplicates
    * (quoting, expansion) that symmetric Jaccard structurally misses.
    * Same df-capped blocking and integer arithmetic as q_jaccard_pairs;
    * threshold 0.8 against least(n_a, n_b), cross-multiplied. */
  val qContainmentPairs = GraftQuery(
    "q_containment_pairs",
    (s, dir) => {
      import s.implicits._
      Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, minContainment = 0.8, maxDf = 100)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+3], ' ') for i in range(0, LEN(ts)-2)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      freq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq USING (s) WHERE freq.df <= 100),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
        CAST(na.n AS BIGINT) AS n_a, CAST(nb.n AS BIGINT) AS n_b
      FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
      WHERE inter * 100 >= LEAST(na.n, nb.n) * 80
      ORDER BY id_a, id_b""")
  )

  /** Slice-size target and df-cap for q_blocking_recall — cap matches
    * q_jaccard_pairs/q_containment_pairs (maxDf = 100). */
  private val BlockingSliceTarget = 600L
  private val BlockingMaxDf = 100

  /** Df-cap blocking RECALL against exact ground truth — the pair-family
    * analog of q_lsh_recall, closing the fixed-parameter census's open
    * measurement: the maxDf stop-shingle cap ([[Dedup.dropHotKeys]]) is
    * the pair generators' scale safety valve, and like the LSH plane
    * ladder its recall cost is invisible to the hash oracle (both engines
    * replay the same cap, so they agree on a recall-degraded answer).
    * This query carries the ground truth inside the result.
    *
    * A corpus-size-bounded slice (expected ≈ 600 docs) is drawn by
    * MIN-SHINGLE MINHASH CELL: keep a doc iff its slot-0 portable minhash
    * value ≡ 0 (mod stride). By the MinHash property a true pair at
    * Jaccard j shares its sampling key with probability j, so near-dup
    * pairs survive at ≈ j/stride — where id-stride sampling would keep
    * them only at 1/stride² and leave the bands empty. The sampler is a
    * HASH of the shingle set, independent of the df-cap decision it
    * audits (the cap drops keys by frequency, not by hash value).
    *
    * The slice is ground-truthed exactly: the UNCAPPED shared-shingle
    * join confined to slice docs is complete for every pair with ≥ 1
    * common shingle (a pair with none has Jaccard 0), so true pairs =
    * uncapped Jaccard ≥ 0.5 — the same threshold and integer
    * cross-multiply as q_jaccard_pairs. Each true pair is then tested
    * against the production semantics: `blocked` = shares ≥ 1 shingle
    * whose FULL-CORPUS df ≤ maxDf (the pair reaches verification at
    * all), and `found` = the capped-set Jaccard the production operator
    * computes still clears 0.5 (the cap shrinks intersection AND union,
    * so a boilerplate-heavy true pair can block but fail the filter).
    *
    * Output: one row per true-Jaccard band plus an 'all' rollup —
    * (n_true, n_blocked, recall_blocked_ppm, n_found, recall_found_ppm)
    * with the cap and stride for context. Scale: the slice join is
    * bounded by slice² ≈ 360k rows at ANY corpus size; the corpus-sized
    * work is one narrow df rollup (map-side combined to distinct
    * shingles) whose > maxDf survivors are ≤ occurrences/maxDf rows —
    * broadcastable by the same argument that makes the cap a safety
    * valve. Integer arithmetic end-to-end. */
  val qBlockingRecall = GraftQuery(
    "q_blocking_recall",
    (s, dir) => {
      import s.implicits._
      val hs = graft.operators.Caches.register(
        Tables.documents(s, dir).select($"doc_id",
          graft.expressions.TextHashExprs.shingleHashes64(
            TextAnalysis.tokens($"text"), 3, portable = true).as("hv")))
      val n = hs.count()
      val stride = (n + BlockingSliceTarget - 1L) / BlockingSliceTarget
      // full-corpus hot shingles (df > cap): the ONLY corpus-sized pass
      val hot = hs.select(explode($"hv").as("s"))
        .groupBy($"s").agg(count(lit(1)).as("df"))
        .filter($"df" > BlockingMaxDf)
        .select($"s", lit(true).as("hot"))
      // slot-0 portable minhash = min over hv of (48271·h) mod P
      val slice = hs
        .withColumn("m", element_at(
          graft.expressions.TextHashExprs.minhashSignature(
            $"hv", 1, portable = true), 1))
        .filter($"m" % stride === 0)
        .select($"doc_id", size($"hv").as("n_sh"), $"hv")
      val ex = graft.operators.Caches.register(
        slice.select($"doc_id", $"n_sh", explode($"hv").as("s"))
          .join(broadcast(hot), Seq("s"), "left")
          .na.fill(Map("hot" -> false)))
      val sizes = ex.groupBy($"doc_id", $"n_sh")
        .agg(sum(when($"hot", 1L).otherwise(0L)).as("n_hot"))
      val pairs = ex.as("a").join(ex.as("b"),
          $"a.s" === $"b.s" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"))
        .agg(count(lit(1)).as("inter"),
          sum(when($"a.hot", 0L).otherwise(1L)).as("inter_c"))
      val flagged = graft.operators.Caches.register(pairs
        .join(sizes.select($"doc_id".as("id_a"), $"n_sh".as("n_a"), $"n_hot".as("h_a")), "id_a")
        .join(sizes.select($"doc_id".as("id_b"), $"n_sh".as("n_b"), $"n_hot".as("h_b")), "id_b")
        .withColumn("uni", $"n_a" + $"n_b" - $"inter")
        .filter($"inter" * 100 >= $"uni" * 50)
        .withColumn("jppm", expr("inter * 1000000 div uni"))
        .withColumn("band",
          when($"jppm" < 650000, "0.50-0.65")
            .when($"jppm" < 800000, "0.65-0.80")
            .otherwise("0.80-1.00"))
        .withColumn("f_blocked", $"inter_c" > 0)
        .withColumn("f_found", $"inter_c" > 0 &&
          $"inter_c" * 100 >= ($"n_a" - $"h_a" + $"n_b" - $"h_b" - $"inter_c") * 50)
        .select($"band", $"f_blocked", $"f_found"))
      def tally(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
        count(lit(1)).as("n_true"),
        sum(when($"f_blocked", 1L).otherwise(0L)).as("n_blocked"),
        sum(when($"f_found", 1L).otherwise(0L)).as("n_found"))
      tally(flagged.groupBy($"band"))
        .unionByName(tally(flagged.groupBy(lit("all").as("band"))))
        .select($"band", $"n_true",
          $"n_blocked",
          expr("CAST(n_blocked * 1000000 div n_true AS BIGINT)").as("recall_blocked_ppm"),
          $"n_found",
          expr("CAST(n_found * 1000000 div n_true AS BIGINT)").as("recall_found_ppm"),
          lit(BlockingMaxDf).as("max_df"), lit(stride.toInt).as("stride"))
        .orderBy($"band")
    },
    Some(s"""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      sg AS (SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END AS shingles
      FROM t),
      hs AS (SELECT doc_id,
        list_distinct(list_transform(shingles, s ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(s, '.'), c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007))) AS hv
      FROM sg),
      sp AS (SELECT CAST((COUNT(*) + ${BlockingSliceTarget - 1}) // $BlockingSliceTarget AS BIGINT) AS stride
        FROM documents),
      freq AS (SELECT s, COUNT(*) AS df
        FROM (SELECT doc_id, unnest(hv) AS s FROM hs) GROUP BY s),
      hot AS (SELECT s FROM freq WHERE df > $BlockingMaxDf),
      sl AS (SELECT doc_id, len(hv) AS n_sh, hv FROM hs, sp
        WHERE list_min(list_transform(hv, h -> (48271 * h) % 1000000007)) % sp.stride = 0),
      ex AS (SELECT doc_id, n_sh, s, s IN (SELECT s FROM hot) AS hot
        FROM (SELECT doc_id, n_sh, unnest(hv) AS s FROM sl)),
      sizes AS (SELECT doc_id, n_sh,
          SUM(CASE WHEN hot THEN 1 ELSE 0 END) AS n_hot
        FROM ex GROUP BY doc_id, n_sh),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter,
          SUM(CASE WHEN a.hot THEN 0 ELSE 1 END) AS inter_c
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      tp AS (SELECT inter, inter_c,
          na.n_sh + nb.n_sh - inter AS uni,
          na.n_sh - na.n_hot AS n_ca, nb.n_sh - nb.n_hot AS n_cb
        FROM pr JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE inter * 100 >= (na.n_sh + nb.n_sh - inter) * 50),
      fl AS (SELECT
          CASE WHEN inter * 1000000 // uni < 650000 THEN '0.50-0.65'
               WHEN inter * 1000000 // uni < 800000 THEN '0.65-0.80'
               ELSE '0.80-1.00' END AS band,
          inter_c > 0 AS f_blocked,
          inter_c > 0 AND inter_c * 100 >= (n_ca + n_cb - inter_c) * 50 AS f_found
        FROM tp),
      agg AS (SELECT band, COUNT(*) AS n_true,
          SUM(CASE WHEN f_blocked THEN 1 ELSE 0 END) AS n_blocked,
          SUM(CASE WHEN f_found THEN 1 ELSE 0 END) AS n_found
        FROM fl GROUP BY band
        UNION ALL
        SELECT 'all', COUNT(*),
          SUM(CASE WHEN f_blocked THEN 1 ELSE 0 END),
          SUM(CASE WHEN f_found THEN 1 ELSE 0 END)
        FROM fl HAVING COUNT(*) > 0)
      SELECT band, CAST(n_true AS BIGINT) AS n_true,
        CAST(n_blocked AS BIGINT) AS n_blocked,
        CAST(n_blocked * 1000000 // n_true AS BIGINT) AS recall_blocked_ppm,
        CAST(n_found AS BIGINT) AS n_found,
        CAST(n_found * 1000000 // n_true AS BIGINT) AS recall_found_ppm,
        $BlockingMaxDf AS max_df, CAST(sp.stride AS INT) AS stride
      FROM agg, sp ORDER BY band""")
  )

  /** Benchmark DECONTAMINATION: flag corpus documents sharing any 5-gram
    * with a held-out eval set (docs with doc_id % 50 == 0 stand in for
    * the benchmark). The standard n-gram-overlap contamination check in
    * training pipelines: eval shingles are few → broadcast; corpus
    * shingles stream map-side through the hash join, one shuffle for the
    * per-doc rollup. Shingle hashes are distinct per doc (kernel
    * contract), so n_shared counts distinct contaminated n-grams. */
  val qDecontaminate = GraftQuery(
    "q_decontaminate",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def sh(d: org.apache.spark.sql.DataFrame) = d.select($"doc_id",
        explode(graft.expressions.TextHashExprs.shingleHashes64(
          TextAnalysis.tokens($"text"), 5)).as("sh"))
      val evalSh = sh(docs.filter($"doc_id" % 50 === 0))
        .select($"sh").distinct()
      sh(docs.filter($"doc_id" % 50 =!= 0))
        .join(broadcast(evalSh), "sh")
        .groupBy($"doc_id").agg(count(lit(1)).as("n_shared"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 5 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+5], ' ') for i in range(0, LEN(ts)-4)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
      SELECT doc_id, COUNT(*) AS n_shared
      FROM sh JOIN ev USING (s) WHERE doc_id % 50 <> 0
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** SPAN-level decontamination accounting: instead of dropping a
    * contaminated document wholesale (q_decontaminate's grain), count
    * exactly which TOKEN POSITIONS sit under an eval-set 5-gram — the
    * report behind surgical span excision, which preserves the clean
    * remainder of long documents. Position-aware: every 5-gram start
    * index joins the broadcast eval set (8-byte xxhash64 of the shingle
    * string — counts are hash-agnostic, so the string-based oracle
    * matches), matched starts explode to their 5 covered offsets, and a
    * distinct-position rollup yields covered-token counts. Overlapping
    * matches never double-count (the distinct), and the shuffle carries
    * (doc, position) pairs bounded by matched spans — not the corpus
    * token stream. */
  val qContaminationSpans = GraftQuery(
    "q_contamination_spans",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def withToks(d: org.apache.spark.sql.DataFrame) =
        d.select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      def spans(d: org.apache.spark.sql.DataFrame) = withToks(d)
        .filter(size($"toks") >= 5)
        .select($"doc_id", size($"toks").as("n_tokens"),
          posexplode(expr("transform(sequence(0, size(toks) - 5), " +
            "i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 5))))"))
            .as(Seq("start", "sh")))
      val evalSh = spans(docs.filter($"doc_id" % 50 === 0))
        .select($"sh").distinct()
      val covered = spans(docs.filter($"doc_id" % 50 =!= 0))
        .join(broadcast(evalSh), "sh")
        .select($"doc_id", explode(sequence($"start", $"start" + 4)).as("pos"))
        .distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("n_contaminated"))
      withToks(docs.filter($"doc_id" % 50 =!= 0))
        .select($"doc_id", size($"toks").as("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select($"doc_id", $"n_tokens",
          coalesce($"n_contaminated", lit(0L)).as("n_contaminated"))
        .withColumn("pct_contaminated",
          floor($"n_contaminated" * 1000000.0 / $"n_tokens" + 0.5) / 1000000.0)
        .filter($"n_contaminated" > 0)
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sp AS (SELECT doc_id, LEN(ts) AS n_tokens, u.i AS start,
          array_to_string(ts[u.i+1:u.i+5], ' ') AS s
        FROM toks, UNNEST(range(LEN(ts) - 4)) AS u(i)
        WHERE LEN(ts) >= 5),
      ev AS (SELECT DISTINCT s FROM sp WHERE doc_id % 50 = 0),
      cov AS (SELECT DISTINCT sp.doc_id, sp.start + o.o AS pos
        FROM sp JOIN ev USING (s), UNNEST(range(5)) AS o(o)
        WHERE sp.doc_id % 50 <> 0),
      agg AS (SELECT doc_id, COUNT(*) AS n_contaminated FROM cov GROUP BY doc_id),
      base AS (SELECT doc_id, CAST(LEN(ts) AS INTEGER) AS n_tokens FROM toks
        WHERE doc_id % 50 <> 0)
      SELECT base.doc_id, base.n_tokens,
        CAST(agg.n_contaminated AS BIGINT) AS n_contaminated,
        FLOOR(agg.n_contaminated * 1000000.0 / base.n_tokens + 0.5) / 1000000.0
          AS pct_contaminated
      FROM base JOIN agg USING (doc_id)
      WHERE agg.n_contaminated > 0
      ORDER BY doc_id""")
  )

  /** Cross-document repeated-span REMOVAL (exact-substring dedup,
    * Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better", approximated with fixed 5-token windows): where
    * q_repeated_spans DETECTS repeated spans and q_shared_spans
    * ATTRIBUTES them pairwise, this query produces the removal
    * accounting that actually dedups the corpus — keep-one-copy
    * semantics. Every positional 5-gram that occurs in ≥ 2 distinct
    * documents elects the MINIMUM doc_id holding it as the canonical
    * copy; in every OTHER document, all token positions covered by that
    * 5-gram are excised. Overlapping removable windows merge (distinct
    * positions), adjacent removed positions merge into maximal spans
    * via gaps-and-islands, and each surviving document reports
    * (n_tokens, n_removed, n_spans, n_kept, pct_removed).
    *
    * Scale: this is BLOCKED, never all-pairs — the corpus-sized
    * relations only ever equi-join on the 8-byte window hash, and the
    * right side of that join is the per-hash AGGREGATE (one row per
    * hash: keep_doc + df), so no hot 5-gram can pair-expand the join;
    * no df cap is even needed. The df pass and the join-back shuffle
    * the SAME hash key (exchange reuse); removed positions shuffle per
    * doc for the island window, bounded by matched-span volume, not the
    * token stream. Text never shuffles — only hashes and positions.
    * Accepted approximation (same trade-off as the other shingle-hash
    * queries): Spark equi-joins on xxhash64 of the 5-gram while the
    * oracle joins the exact string, so a 64-bit collision yields a
    * Spark-only false removal; at ~1e9 distinct shingles (100 TB) the
    * birthday expectation is ~0.03 colliding pairs — negligible for
    * dedup accounting, and the fix (compare the string after the
    * hash-blocked join) costs one text shuffle if ever needed. */
  val qSpanDedup = GraftQuery(
    "q_span_dedup",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val toks = docs.select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
      val sh = toks.filter(size($"toks") >= 5)
        .select($"doc_id",
          posexplode(expr("transform(sequence(0, size(toks) - 5), " +
            "i -> xxhash64(concat_ws(' ', slice(toks, i + 1, 5))))"))
            .as(Seq("start", "sh")))
      val stats = sh.select($"sh", $"doc_id").distinct()
        .groupBy($"sh").agg(min($"doc_id").as("keep_doc"), count(lit(1)).as("df"))
        .filter($"df" >= 2)
      // one doc_id exchange serves the position dedup AND the island
      // window (r16): hash(doc_id) satisfies the (doc_id, pos) distinct's
      // clustering requirement, so the explicit repartition replaces TWO
      // exchanges ((doc_id, pos) distinct + doc_id window) with one.
      val removed = sh.join(stats, "sh")
        .filter($"doc_id" =!= $"keep_doc")
        .select($"doc_id", explode(sequence($"start", $"start" + 4)).as("pos"))
        .repartition($"doc_id")
        .distinct()
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val agg = removed
        .withColumn("prev", lag($"pos", 1).over(w))
        .withColumn("is_start",
          when($"prev".isNull || $"pos" - $"prev" =!= 1, 1L).otherwise(0L))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_removed"), sum($"is_start").as("n_spans"))
      toks.select($"doc_id", size($"toks").as("n_tokens"))
        .join(agg, "doc_id")
        .select($"doc_id", $"n_tokens", $"n_removed", $"n_spans",
          ($"n_tokens" - $"n_removed").cast("int").as("n_kept"),
          (floor($"n_removed" * 1000000.0 / $"n_tokens" + 0.5) / 1000000.0)
            .as("pct_removed"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sp AS (SELECT doc_id, u.i AS start,
          array_to_string(ts[u.i+1:u.i+5], ' ') AS s
        FROM toks, UNNEST(range(LEN(ts) - 4)) AS u(i)
        WHERE LEN(ts) >= 5),
      stats AS (SELECT s, MIN(doc_id) AS keep_doc
        FROM sp GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2),
      cov AS (SELECT DISTINCT sp.doc_id, sp.start + o.o AS pos
        FROM sp JOIN stats USING (s), UNNEST(range(5)) AS o(o)
        WHERE sp.doc_id <> stats.keep_doc),
      runs AS (SELECT doc_id, pos,
          LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM cov),
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed,
          CAST(SUM(CASE WHEN prev IS NULL OR pos - prev <> 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_spans
        FROM runs GROUP BY doc_id),
      base AS (SELECT doc_id, CAST(LEN(ts) AS INTEGER) AS n_tokens FROM toks)
      SELECT base.doc_id, base.n_tokens, agg.n_removed, agg.n_spans,
        CAST(base.n_tokens - agg.n_removed AS INTEGER) AS n_kept,
        FLOOR(agg.n_removed * 1000000.0 / base.n_tokens + 0.5) / 1000000.0
          AS pct_removed
      FROM base JOIN agg USING (doc_id) ORDER BY doc_id""")
  )

  /** VARIABLE-LENGTH maximal repeated spans (the suffix-array-flavored
    * refinement of [[qSpanDedup]]): where the fixed-5 form quantizes
    * every repeated region to its 5-token windows, this census reports
    * each maximal cross-document repeated span at its EXACT token
    * length. A span (doc, start, len) qualifies when its token sequence
    * occurs in ≥ 2 distinct documents, len ≥ 5, and it is maximal —
    * len(start) is the longest repeated extension, and a span is
    * suppressed when contained in its left neighbor's (containment ⟺
    * prev_len = len + 1, because len(i−1) ≤ len(i)+1 always: any
    * repeated window at i−1 forces its suffix at i to repeat too).
    * Per document: n_spans, max_span_len, sum_span_len.
    *
    * Mechanism — a SEED-GATED length sweep. Key pruning fact: if the
    * length-L window at position i repeats cross-document, its 5-token
    * prefix repeats cross-document too — so only positions whose
    * 5-gram is itself cross-doc repeated ("hot" positions, exactly
    * [[qSpanDedup]]'s seed test) can host ANY variable-length span.
    * Pass 1 (1× corpus positions): every position emits its 5-gram
    * hash; a distinct-doc df ≥ 2 rollup yields the hot hashes, joined
    * back to gate positions. Pass 2 (≤28× HOT positions only): each
    * hot position probes every fitting length 5..32, aggregated by
    * (len, hash) with a distinct-doc df, and each position keeps its
    * max repeated length. Witness alignment is exact by the same
    * prefix fact: every occurrence of a repeated L-string sits at a
    * hot position and probes all fitting lengths ⊇ {L}, so each df
    * equals the all-positions value and the oracle stays the simple
    * all-probes SQL. Measured hot fraction on this corpus: 10.0% of
    * positions, cutting probe volume 7× vs the unconditional sweep.
    * The qSpanDedup blocked contract is preserved throughout: the
    * corpus stream only ever equi-joins one-row-per-hash aggregates;
    * hot shingles cannot pair-expand. (Two alternatives were built and
    * measured slower on this corpus before settling here: a two-phase
    * geometric-rung ladder — its adaptive phase 2 re-paid most of the
    * amplification plus an extra shuffle round — and a Manber–Myers
    * sparse-table hash pyramid, whose O(1)-per-probe hashing timed
    * identical to the naive O(L) slice+concat because generation cost,
    * not hashing, dominates.)
    *
    * Scale: pass-1 volume is 1× corpus positions of fixed-width rows;
    * pass-2 volume is 28× the REPEATED-content positions — at 100 TB
    * the sweep scales with how much boilerplate the corpus shares, not
    * with the corpus itself. The per-doc hot-position list rejoins
    * through a (doc_id, starts) rollup (never a broadcast of the hot
    * set, which is corpus-sized in the worst case). Spans longer than
    * the 32-token cap are reported cap-quantized (both engines apply
    * the identical cap). Same xxhash64 collision approximation as
    * qSpanDedup (oracle joins exact strings, Spark joins 8-byte
    * hashes; birthday expectation ~0.03 colliding pairs at 1e9
    * shingles). */
  val qSpanDedupVar = GraftQuery(
    "q_span_dedup_var",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      // cached (r16): toks feeds pass 1 (seeds) AND pass 2 (probes) —
      // uncached, pass 2 re-tokenized the corpus. Same storage note as
      // q_span_dedup's toks cache.
      val toks = graft.operators.Caches.register(
        docs.select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
          .filter(size($"toks") >= 5))
      // pass 1: every position's 5-gram hash (1× corpus positions);
      // cached — consumed by both the df rollup and the hot join-back
      val seeds = graft.operators.Caches.register(
        toks.select($"doc_id", explode(expr(
          """transform(sequence(0, size(toks) - 5), i ->
               struct(i AS start, xxhash64(concat_ws(' ', slice(toks, i + 1, 5))) AS sh))"""))
            .as("p"))
          .select($"doc_id", $"p.start", $"p.sh"))
      val hotH = seeds.select($"sh", $"doc_id").distinct()
        .groupBy($"sh").agg(count(lit(1)).as("nd"))
        .filter($"nd" >= 2).select($"sh")
      // hot starts per doc, rejoined to the tokens (keyed, no broadcast
      // of the potentially corpus-sized hot-hash set)
      val hotPos = seeds.join(hotH, "sh")
        .groupBy($"doc_id").agg(sort_array(collect_list($"start")).as("hots"))
      // pass 2: only hot positions probe every fitting length 5..32;
      // cached — consumed by both the (len,h) df rollup and the join-back
      val probes = graft.operators.Caches.register(
        toks.join(hotPos, "doc_id")
          .select($"doc_id", explode(expr(
            """flatten(transform(hots, s ->
                 transform(sequence(5, least(32, size(toks) - s)), L ->
                   struct(s AS start, L AS len,
                     xxhash64(L, concat_ws(' ', slice(toks, s + 1, L))) AS h))))"""))
            .as("p"))
          .select($"doc_id", $"p.start", $"p.len", $"p.h"))
      val rep = probes.select($"len", $"h", $"doc_id").distinct()
        .groupBy($"len", $"h").agg(count(lit(1)).as("n_docs"))
        .filter($"n_docs" >= 2).select($"len", $"h")
      // one doc_id exchange serves the per-position rollup AND the
      // containment window (r16): hash(doc_id) satisfies the
      // (doc_id, start) groupBy's clustering requirement, so the
      // explicit repartition replaces two exchanges with one.
      val li = probes.join(rep, Seq("len", "h"))
        .repartition($"doc_id")
        .groupBy($"doc_id", $"start").agg(max($"len").as("len"))
      val w = Window.partitionBy($"doc_id").orderBy($"start")
      li.withColumn("pstart", lag($"start", 1).over(w))
        .withColumn("plen", lag($"len", 1).over(w))
        .withColumn("is_start",
          when($"pstart".isNull || $"pstart" =!= $"start" - 1 ||
               $"plen" =!= $"len" + 1, 1L).otherwise(0L))
        .groupBy($"doc_id")
        .agg(sum($"is_start").as("n_spans"),
          max($"len").as("max_span_len"),
          sum(when($"is_start" === 1L, $"len").otherwise(0L)).as("sum_span_len"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      probes AS (SELECT doc_id, u.i AS start, l.L AS len,
          array_to_string(ts[u.i+1 : u.i+l.L], ' ') AS s
        FROM toks,
          UNNEST(range(LEN(ts) - 4)) AS u(i),
          UNNEST(range(5, LEAST(32, LEN(ts) - u.i) + 1)) AS l(L)
        WHERE LEN(ts) >= 5),
      rep AS (SELECT len, s FROM probes
        GROUP BY len, s HAVING COUNT(DISTINCT doc_id) >= 2),
      li AS (SELECT doc_id, start, MAX(len) AS len
        FROM probes JOIN rep USING (len, s) GROUP BY doc_id, start),
      runs AS (SELECT doc_id, start, len,
          LAG(start) OVER w AS pstart, LAG(len) OVER w AS plen
        FROM li WINDOW w AS (PARTITION BY doc_id ORDER BY start)),
      spans AS (SELECT doc_id, len,
          CASE WHEN pstart IS NULL OR pstart <> start - 1 OR plen <> len + 1
            THEN 1 ELSE 0 END AS is_start
        FROM runs)
      SELECT doc_id, CAST(SUM(is_start) AS BIGINT) AS n_spans,
        CAST(MAX(len) AS INTEGER) AS max_span_len,
        CAST(SUM(CASE WHEN is_start = 1 THEN len ELSE 0 END) AS BIGINT)
          AS sum_span_len
      FROM spans GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Repetition scoring: distinct-5-gram share of each document's 5-gram
    * positions — boilerplate/loop-generated text scores low. Map-only
    * (two array expressions per row, no shuffle at all). */
  val qRepetition = GraftQuery(
    "q_repetition",
    (s, dir) => {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      val positions = when(size(toks) < 5, 1).otherwise(size(toks) - 4)
      val distinctSh = size(graft.expressions.TextHashExprs.shingleHashes64(toks, 5))
      Tables.documents(s, dir)
        .select($"doc_id",
          positions.as("positions"),
          distinctSh.as("distinct_5grams"),
          round(distinctSh.cast("double") / positions, 6).as("uniq_ratio"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      m AS (SELECT doc_id,
        CAST(CASE WHEN LEN(ts) < 5 THEN 1 ELSE LEN(ts) - 4 END AS INT) AS positions,
        CAST(LEN(list_distinct(CASE WHEN LEN(ts) < 5 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+5], ' ') for i in range(0, LEN(ts)-4)] END)) AS INT) AS distinct_5grams
      FROM toks)
      SELECT doc_id, positions, distinct_5grams,
        ROUND(CAST(distinct_5grams AS DOUBLE) / positions, 6) AS uniq_ratio
      FROM m ORDER BY doc_id""")
  )

  /** Corpus bigram frequency table (language-model data stats): top-50
    * bigrams by multiset count. One explode + one partial-aggregated
    * groupBy + a bounded TakeOrdered — the n-gram count shape that at
    * 100 TB feeds tokenizer/LM training; counts shuffle, text does not
    * (map-side combine reduces each partition to its distinct bigrams
    * first). */
  val qBigramStats = GraftQuery(
    "q_bigram_stats",
    (s, dir) => {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      // one fused pass over two shifted views — no index array, no
      // per-element element_at lookups
      val bigrams = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b))
      Tables.documents(s, dir)
        .filter(size(toks) >= 2)
        .select(explode(bigrams).as("bigram"))
        .groupBy($"bigram").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"bigram")
        .limit(50)
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      e AS (SELECT u.b FROM (
          SELECT [array_to_string(ts[i+1:i+2], ' ') for i in range(0, LEN(ts)-1)] AS bs
          FROM toks WHERE LEN(ts) >= 2), UNNEST(bs) AS u(b))
      SELECT b AS bigram, COUNT(*) AS n FROM e
      GROUP BY b ORDER BY n DESC, bigram LIMIT 50""")
  )

  /** Dedup CLUSTER assembly: connected components over the exact-Jaccard
    * pair graph — (id, component) with component = min reachable id, the
    * canonical survivor. The whole chain (shingle → df-cap → pair →
    * closure) is SQL-expressible, so DuckDB validates the closure
    * (driver union-find, or star contraction above the gate) against a
    * recursive CTE. */
  val qDedupComponents = GraftQuery(
    "q_dedup_components",
    (s, dir) => {
      import s.implicits._
      val pairs = Dedup.ngramJaccardPairs(Tables.documents(s, dir),
        "doc_id", "text", k = 3, minJaccard = 0.5, maxDf = 100)
      Dedup.connectedComponents(pairs)
        .select($"id", $"label".as("component"))
        .orderBy($"id")
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+3], ' ') for i in range(0, LEN(ts)-2)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      freq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq USING (s) WHERE freq.df <= 100),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (SELECT id_a, id_b
        FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE inter * 100 >= (na.n + nb.n - inter) * 50),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      walk(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT w.src, e.b FROM walk w JOIN edges e ON w.dst = e.a)
      SELECT src AS id, MIN(dst) AS component FROM walk GROUP BY src
      ORDER BY id""")
  )

  /** Contamination accounting BY SOURCE: which corpus sources leak the
    * eval set, and how badly — the per-provider report that decides
    * whether to drop a source or just the contaminated docs. Same
    * broadcast-eval-shingles shape as q_decontaminate, rolled up to
    * (source, docs_hit, shared n-grams). */
  val qContaminationBySource = GraftQuery(
    "q_contamination_by_source",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      def sh(d: org.apache.spark.sql.DataFrame) = d.select($"doc_id", $"source",
        explode(graft.expressions.TextHashExprs.shingleHashes64(
          TextAnalysis.tokens($"text"), 5)).as("sh"))
      val evalSh = sh(docs.filter($"doc_id" % 50 === 0)).select($"sh").distinct()
      sh(docs.filter($"doc_id" % 50 =!= 0))
        .join(broadcast(evalSh), "sh")
        .groupBy($"source")
        .agg(countDistinct($"doc_id").as("docs_hit"), count(lit(1)).as("n_shared"))
        .orderBy($"source")
    },
    Some("""WITH toks AS (SELECT doc_id, source,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh AS (SELECT DISTINCT doc_id, source, s FROM (
        SELECT doc_id, source, CASE WHEN LEN(ts) < 5 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+5], ' ') FOR i IN range(0, LEN(ts)-4)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 50 = 0)
      SELECT source, COUNT(DISTINCT doc_id) AS docs_hit, COUNT(*) AS n_shared
      FROM sh JOIN ev USING (s) WHERE doc_id % 50 <> 0
      GROUP BY source ORDER BY source""")
  )

  /** Unigram cross-entropy per document — the perplexity proxy quality
    * signal (loop-generated/templated text scores LOW entropy, gibberish
    * scores HIGH): H(doc) = mean over token POSITIONS of −ln p(token),
    * with p from the corpus unigram table. One aggregate builds the
    * (tiny) frequency table, which BROADCASTS back onto the map-side
    * token stream; one rollup shuffle per doc. Rounded at 6 — the only
    * cross-engine float risk is ln's last ulp, orders below the
    * rounding. */
  val qUnigramXent = GraftQuery(
    "q_unigram_xent",
    (s, dir) => {
      import s.implicits._
      val toks = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("tok")))
      val n = toks.count()
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("n_tok"))
      // each term goes through DECIMAL(18,12) before summing: the sum is
      // then order-independent (Spark's partial-agg order varies run to
      // run) and ln's cross-engine last-ulp noise sits 6 digits below
      // the rounding
      toks.join(broadcast(freq), "tok")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_positions"),
          round((sum((-log($"n_tok".cast("double") / n))
              .cast(org.apache.spark.sql.types.DecimalType(18, 12)))
            .cast("double") / count(lit(1))), 6).as("xent"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, u.tok FROM (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        FROM documents), UNNEST(ts) AS u(tok)),
      tot AS (SELECT COUNT(*) AS n FROM t),
      f AS (SELECT tok, COUNT(*) AS n_tok FROM t GROUP BY tok)
      SELECT doc_id, COUNT(*) AS n_positions,
        ROUND(CAST(SUM(CAST(-LN(CAST(f.n_tok AS DOUBLE) / tot.n) AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS xent
      FROM t JOIN f USING (tok), tot
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Bigram cross-entropy per document under an add-1-smoothed bigram
    * model trained on the corpus itself: H(doc) = mean over bigram
    * POSITIONS of −ln P(w₂|w₁), P = (c(w₁w₂)+1)/(c(w₁·)+V). The
    * second-order companion of [[qUnigramXent]] — templated/looping text
    * scores LOW (its bigrams repeat), shuffled-word salad scores HIGH
    * even when its unigram profile looks natural; the gap between the
    * two entropies is the word-order signal.
    *
    * Scale: the bigram and prefix count tables are vocabulary-sized
    * (they BROADCAST here; at a 100 TB vocabulary the join flips to a
    * shuffle on the bigram key — same plan shape, no driver state
    * either way); the position stream is map-side explode. Per-term
    * DECIMAL(18,12) summation makes the mean order-independent, same
    * discipline as the unigram query. */
  val qBigramXent = GraftQuery(
    "q_bigram_xent",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val toks = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select($"doc_id", TextAnalysis.tokens($"text").as("ts")))
      // w1 rides the cached position stream as a struct field (r16):
      // the scoring pass previously re-derived it with a corpus-sized
      // regex split per position; building it at zip time is one array
      // reference.
      val pos = graft.operators.Caches.register(
        toks.filter(size($"ts") >= 2)
          .select($"doc_id", explode(zip_with(
            slice($"ts", lit(1), size($"ts") - 1), slice($"ts", lit(2), size($"ts") - 1),
            (a, b) => struct(concat_ws(" ", a, b).as("bigram"), a.as("w1")))).as("p"))
          .select($"doc_id", $"p.bigram".as("bigram"), $"p.w1".as("w1")))
      val bi = pos.groupBy($"bigram").agg(count(lit(1)).as("n12"))
      val uni = bi.withColumn("w1", split($"bigram", " ")(0))
        .groupBy($"w1").agg(sum($"n12").as("n1"))
      val v = toks.select(explode($"ts").as("tok"))
        .agg(countDistinct($"tok").as("v"))
      pos
        .join(broadcast(bi), "bigram")
        .join(broadcast(uni), "w1")
        .crossJoin(broadcast(v))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum((-log(($"n12" + 1).cast("double") / ($"n1" + $"v").cast("double")))
              .cast(DecimalType(18, 12)))
            .cast("double") / count(lit(1)), 6).as("xent"))
        .orderBy($"doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      pos AS (SELECT doc_id, u.bg FROM (
          SELECT doc_id, [array_to_string(ts[i+1:i+2], ' ') FOR i IN range(0, LEN(ts)-1)] AS bs
          FROM toks WHERE LEN(ts) >= 2), UNNEST(bs) AS u(bg)),
      bi AS (SELECT bg, COUNT(*) AS n12 FROM pos GROUP BY bg),
      uni AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(SUM(n12) AS BIGINT) AS n1
        FROM bi GROUP BY 1),
      vo AS (SELECT COUNT(DISTINCT u.tok) AS v FROM toks, UNNEST(ts) AS u(tok))
      SELECT doc_id, COUNT(*) AS n_bigrams,
        ROUND(CAST(SUM(CAST(-LN(CAST(n12 + 1 AS DOUBLE) / (n1 + vo.v)) AS DECIMAL(18,12))) AS DOUBLE)
          / COUNT(*), 6) AS xent
      FROM pos
      JOIN bi USING (bg)
      JOIN uni ON uni.w1 = string_split(bg, ' ')[1], vo
      GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Vocabulary coverage curve: the smallest vocabulary (most-frequent-
    * first) covering 50/90/95/99% of corpus token MASS — the tokenizer-
    * sizing KPI (a Zipf corpus covers 90% with a tiny head; the long
    * tail is where byte-fallback lives).
    *
    * Computed WITHOUT ranking the vocabulary: tokens collapse to the
    * frequency-OF-frequency relation (one row per DISTINCT count value —
    * thousands under any Zipf-ish distribution, regardless of corpus or
    * vocab size), the cumulative front runs over THAT (same domain-sized
    * window trick as q_pareto / q_ks_drift), and the crossing level's
    * partial take is one integer ceiling-division — so the whole curve
    * is integer-exact, order-independent, and never materializes a
    * ranked vocabulary. */
  val qVocabCoverage = GraftQuery(
    "q_vocab_coverage",
    (s, dir) => {
      import s.implicits._
      val counts = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens($"text")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("n"))
      val levels = counts.groupBy($"n".as("c"))
        .agg(count(lit(1)).as("m"))
        .withColumn("s", $"c" * $"m")
      val w = org.apache.spark.sql.expressions.Window.orderBy($"c".desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val cum = levels
        .withColumn("before_tokens", coalesce(sum($"m").over(w), lit(0L)))
        .withColumn("before_mass", coalesce(sum($"s").over(w), lit(0L)))
      val tot = counts.agg(sum($"n").as("total"), count(lit(1)).as("vocab"))
      val targets = Seq(50, 90, 95, 99).toDF("coverage_pct")
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(targets))
        .filter($"before_mass" * 100 < $"coverage_pct" * $"total" &&
          ($"before_mass" + $"s") * 100 >= $"coverage_pct" * $"total")
        .withColumn("vocab_size", $"before_tokens" +
          expr("(coverage_pct * total - 100 * before_mass + 100 * c - 1) DIV (100 * c)"))
        .select($"coverage_pct", $"vocab_size", $"vocab", $"total")
        .orderBy($"coverage_pct")
    },
    Some("""WITH t AS (SELECT u.tok FROM (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        FROM documents), UNNEST(ts) AS u(tok)),
      c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
      lv AS (SELECT n AS c, COUNT(*) AS m, CAST(n * COUNT(*) AS BIGINT) AS s
        FROM c GROUP BY n),
      cum AS (SELECT c, m, s,
        COALESCE(CAST(SUM(m) OVER (ORDER BY c DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before_tokens,
        COALESCE(CAST(SUM(s) OVER (ORDER BY c DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS before_mass
      FROM lv),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total, COUNT(*) AS vocab FROM c),
      tg AS (SELECT unnest([50, 90, 95, 99]) AS coverage_pct)
      SELECT CAST(coverage_pct AS INTEGER) AS coverage_pct,
        before_tokens + (coverage_pct * total - 100 * before_mass + 100 * c - 1) // (100 * c)
          AS vocab_size,
        vocab, total
      FROM cum, tot, tg
      WHERE before_mass * 100 < coverage_pct * total
        AND (before_mass + s) * 100 >= coverage_pct * total
      ORDER BY coverage_pct""")
  )

  /** End-to-end corpus dedup: near-dup pairs → connected components →
    * ONE SURVIVOR per cluster (longest doc, ties to the smallest id),
    * every document labeled kept/dropped. This is the full "dedup the
    * corpus" pipeline a training-data run executes; singletons survive
    * trivially via the left join + coalesce. One extra shuffle beyond
    * the closure (the per-component window); the window partitions by
    * component, which is ~one row per doc for singleton-heavy corpora —
    * no skew. */
  val qDedupSurvivors = GraftQuery(
    "q_dedup_survivors",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.ngramJaccardPairs(docs,
        "doc_id", "text", k = 3, minJaccard = 0.5, maxDf = 100)
      val comp = Dedup.connectedComponents(pairs)
      val labeled = docs.select($"doc_id", $"n_chars")
        .join(comp, $"doc_id" === $"id", "left")
        .select($"doc_id", coalesce($"label", $"doc_id").as("component"), $"n_chars")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"component").orderBy($"n_chars".desc, $"doc_id")
      labeled
        .withColumn("survivor_id", first($"doc_id").over(w))
        .select($"doc_id", $"component", $"survivor_id",
          ($"doc_id" === $"survivor_id").cast("int").as("is_kept"))
        .orderBy($"doc_id")
    },
    Some("""WITH RECURSIVE toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, s FROM (
        SELECT doc_id, CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+3], ' ') for i in range(0, LEN(ts)-2)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      freq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq USING (s) WHERE freq.df <= 100),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      pairs AS (SELECT id_a, id_b
        FROM inter JOIN sizes na ON na.doc_id = id_a JOIN sizes nb ON nb.doc_id = id_b
        WHERE inter * 100 >= (na.n + nb.n - inter) * 50),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      walk(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT w.src, e.b FROM walk w JOIN edges e ON w.dst = e.a),
      comp AS (SELECT src AS id, MIN(dst) AS component FROM walk GROUP BY src),
      lab AS (SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
      ranked AS (SELECT doc_id, component,
        FIRST_VALUE(doc_id) OVER (PARTITION BY component ORDER BY n_chars DESC, doc_id) AS survivor_id
      FROM lab)
      SELECT doc_id, component, survivor_id,
        CAST(doc_id = survivor_id AS INT) AS is_kept
      FROM ranked ORDER BY doc_id""")
  )

  /** Heavy-hitter tokens via the Misra-Gries sketch + exact confirm:
    * pass 1 streams every token occurrence through ≤ 40 counters per
    * partition (NO shuffle by token — only sketch states merge); the
    * ≤ 40 candidates then get ONE exact counting pass and the true
    * threshold. The MG guarantee (every item with freq > n/(k+1)
    * survives the sketch) makes the two-pass result EXACTLY the true
    * heavy hitters — which is what the oracle's full groupBy computes.
    * The scale win: the full-vocabulary shuffle is replaced by a
    * 40-key one. */
  /** Count-Min Sketch point-frequency estimation as a RELATIONAL
    * program: d=4 hash rows × w=16 counters built from the portable
    * base-31 token hashes, probed for the top-30 tokens with the exact
    * count riding along — est ≥ exact ALWAYS (deterministic CMS
    * guarantee, spec-asserted), overcount bounded by corpus/w in
    * expectation. w=16 is deliberately small for this 31-token vocab so
    * real collisions are visible in the result; size w ≈ e/ε at scale.
    *
    * Why relational: the counter table is d·w rows REGARDLESS of
    * vocabulary, and building it through the vocab rollup reuses the
    * one corpus shuffle the exact certificate needs anyway. The
    * certificate-free production variant aggregates (row, bucket) keys
    * straight off the token stream — partial aggregation bounds the
    * shuffle to d·w rows per task, no vocab-sized state anywhere.
    * The portable hash family makes build AND probe bit-identical in
    * DuckDB, so the sketch CONTENTS are under the hash gate — unlike
    * engine-internal CMS implementations. */
  val qCmsCounts = GraftQuery(
    "q_cms_counts",
    (s, dir) => {
      import s.implicits._
      val P = 1000000007L
      val d = 4
      val w = 16
      val toks = TextAnalysis.tokens($"text")
      // (token, portable-hash) stream folded to the vocab ONCE; k=1
      // positional hashes align index-for-index with the token array
      val cnt = graft.operators.Caches.register(
        Tables.documents(s, dir).filter($"text".isNotNull)
          .select(explode(arrays_zip(toks.as("tok"),
            graft.expressions.TextHashExprs.positionalShingleHashes64(
              toks, 1, portable = true).as("hv"))).as("z"))
          .select($"z.tok".as("tok"), $"z.hv".as("hv"))
          .groupBy($"tok", $"hv").agg(count(lit(1)).as("n")))
      def bucket(hv: org.apache.spark.sql.Column,
          i: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        ((hv * (lit(48271L) + lit(2L) * i) + i) % P) % w
      val counters = cnt
        .select($"hv", $"n", explode(typedLit((0 until d).map(_.toLong))).as("i"))
        .groupBy($"i", bucket($"hv", $"i").as("bucket"))
        .agg(sum($"n").as("c"))
      val top = cnt
        .select($"tok", $"hv", $"n".as("exact_n"))
        .orderBy($"exact_n".desc, $"tok").limit(30)
      top
        .withColumn("i", explode(typedLit((0 until d).map(_.toLong))))
        .withColumn("bucket", bucket($"hv", $"i"))
        .join(broadcast(counters), Seq("i", "bucket"))
        .groupBy($"tok", $"exact_n")
        .agg(min($"c").as("cms_est"))
        .select($"tok", $"exact_n", $"cms_est",
          ($"cms_est" - $"exact_n").as("overcount"))
        .orderBy($"exact_n".desc, $"tok")
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL),
      tok AS (SELECT unnest(toks) AS tok FROM t),
      h AS (SELECT tok, list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(tok, '.'), c -> CAST(ord(c) AS BIGINT))),
          (acc, x) -> (acc*31 + x) % 1000000007) AS hv, COUNT(*) AS n
        FROM tok GROUP BY tok),
      counters AS (SELECT i, ((hv*(48271+2*i)+i) % 1000000007) % 16 AS bucket, SUM(n) AS c
        FROM h CROSS JOIN (SELECT unnest(range(4)) AS i) ti GROUP BY 1, 2),
      top AS (SELECT tok, hv, n AS exact_n FROM h ORDER BY n DESC, tok LIMIT 30),
      est AS (SELECT tok, exact_n, MIN(c) AS cms_est
        FROM top CROSS JOIN (SELECT unnest(range(4)) AS i) ti
        JOIN counters ON counters.i = ti.i
          AND counters.bucket = ((top.hv*(48271+2*ti.i)+ti.i) % 1000000007) % 16
        GROUP BY tok, exact_n)
      SELECT tok, CAST(exact_n AS BIGINT) AS exact_n, CAST(cms_est AS BIGINT) AS cms_est,
        CAST(cms_est - exact_n AS BIGINT) AS overcount
      FROM est ORDER BY exact_n DESC, tok""")
  )

  val qHeavyHitters = GraftQuery(
    "q_heavy_hitters",
    (s, dir) => {
      import s.implicits._
      val toks = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("tok")))
      // one pass for BOTH the stream length and the sketch
      val row = toks
        .agg(count(lit(1)).as("n"),
          graft.expressions.MisraGries.mgCandidates($"tok", 40).as("c"))
        .first()
      val n = row.getLong(0)
      val cands = row.getSeq[String](1)
      toks.filter($"tok".isin(cands: _*))
        .groupBy($"tok").agg(count(lit(1)).as("n_tok"))
        .filter($"n_tok" * 40 > n)
        .withColumn("share", round($"n_tok".cast("double") / n, 6))
        .orderBy($"n_tok".desc, $"tok")
    },
    Some("""WITH t AS (SELECT u.tok FROM (
        SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        FROM documents), UNNEST(ts) AS u(tok)),
      tot AS (SELECT COUNT(*) AS n FROM t),
      c AS (SELECT tok, COUNT(*) AS n_tok FROM t GROUP BY tok)
      SELECT tok, n_tok, ROUND(CAST(n_tok AS DOUBLE) / tot.n, 6) AS share
      FROM c, tot WHERE n_tok * 40 > tot.n
      ORDER BY n_tok DESC, tok""")
  )

  /** Brute-force cosine top-20 against the min-vec_id query vector —
    * exact ANN baseline. Sequential double math both engines. */
  val qEmbedTopK = GraftQuery(
    "q_embed_topk",
    (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val q = emb.orderBy($"vec_id").limit(1)
        .select($"embedding".cast("array<double>")).collect()(0)
        .getSeq[Double](0)
      Similarity.bruteForceTopK(
        emb.withColumn("embedding", $"embedding".cast("array<double>")),
        "vec_id", "embedding", q, 20)
    },
    Some("""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
      scored AS (SELECT vec_id,
        ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
          (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
           SQRT(list_dot_product(qv, qv))), 6) AS cos_sim
      FROM embeddings, q)
      SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 20""")
  )

  // ----- sketch queries in the PORTABLE hash family (polynomial mod
  // ----- 1000000007 — see TextHashKernels.PortableMod): DuckDB computes
  // ----- the IDENTICAL signatures, so these carry full hash oracles.
  // ----- The xxhash64 family stays the production default and is
  // ----- cross-validated against exact operators in ScalaTest.

  /** MinHash+LSH near-dup pairs (est. Jaccard ≥ 0.5), portable family. */
  val qMinhashPairs = GraftQuery(
    "q_minhash_pairs",
    (s, dir) => {
      import s.implicits._
      Dedup.minhashDedupPairs(Tables.documents(s, dir), "doc_id", "text",
          k = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucket = 100)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH ${MinhashOracle.sigCtes},
      ${MinhashOracle.bandCtes(r = 4)}
      SELECT id_a, id_b, est_jaccard FROM ver WHERE est_jaccard >= 0.5
      ORDER BY id_a, id_b""")
  )

  /** MinHash estimator PRECISION audit: every emitted pair carries its
    * signature estimate AND the exact shingle-set Jaccard, computed in
    * the same plan by joining the (already cached) per-doc fingerprint
    * arrays back onto the pair list — set math is two sorted-array ops
    * map-side, bounded by PAIR count (tiny), never corpus-squared. The
    * abs_err column makes estimator drift visible to the harness row
    * check, and the whole thing is DuckDB-oracled through the portable
    * hash family (both the estimate and the truth). */
  val qMinhashPrecision = GraftQuery(
    "q_minhash_precision",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DoubleType
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, threshold = 0.5, maxBucket = 100)
      val sh = graft.operators.Caches.register(docs.select($"doc_id",
        graft.expressions.TextHashExprs.shingleHashes64(
          TextAnalysis.tokens($"text"), 3, portable = true).as("hs")))
      val inter = size(array_intersect($"hs_a", $"hs_b"))
      val uni = size($"hs_a") + size($"hs_b") - inter
      pairs
        .join(sh.select($"doc_id".as("id_a"), $"hs".as("hs_a")), "id_a")
        .join(sh.select($"doc_id".as("id_b"), $"hs".as("hs_b")), "id_b")
        .select($"id_a", $"id_b", $"est_jaccard",
          round(inter.cast(DoubleType) / uni, 6).as("exact_jaccard"),
          round(abs($"est_jaccard" - inter.cast(DoubleType) / uni), 6).as("abs_err"))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH ${MinhashOracle.sigCtes},
      ${MinhashOracle.bandCtes(r = 4)},
      px AS (SELECT id_a, id_b, est_jaccard,
        CAST(len(list_intersect(ha.hv, hb.hv)) AS DOUBLE)
          / (len(ha.hv) + len(hb.hv) - len(list_intersect(ha.hv, hb.hv))) AS ex
      FROM ver JOIN hs ha ON ver.id_a = ha.doc_id JOIN hs hb ON ver.id_b = hb.doc_id
      WHERE est_jaccard >= 0.5)
      SELECT id_a, id_b, est_jaccard, ROUND(ex, 6) AS exact_jaccard,
        ROUND(ABS(est_jaccard - ex), 6) AS abs_err
      FROM px ORDER BY id_a, id_b""")
  )

  /** SimHash near-dup pairs (hamming ≤ 3 on the 64-bit sketch), portable
    * family (token hash = h31 | h131 << 32; 4 of 64 bits structurally
    * zero — see TextHashKernels.portableSimhashChunks). */
  val qSimhashPairs = GraftQuery(
    "q_simhash_pairs",
    (s, dir) => {
      import s.implicits._
      Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, maxBucket = 100)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents WHERE text IS NOT NULL),
      th AS (SELECT doc_id,
        list_transform(toks, tok ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(tok, '.'), c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007)
          + list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(tok, '.'), c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 131 + x) % 1000000007) * 4294967296) AS hv
      FROM t),
      sk AS (SELECT doc_id,
        list_transform(range(4), c ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(16), b ->
              CASE WHEN COALESCE(list_sum(list_transform(hv, h ->
                  CASE WHEN (h >> CAST(c*16 + b AS BIGINT)) & 1 = 1 THEN 1 ELSE -1 END)), 0) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
            (acc, x) -> acc * 2 + x)) AS sk
      FROM th),
      e AS (SELECT doc_id, sk, band, sk[band+1] AS chunk
        FROM sk CROSS JOIN (SELECT unnest(range(4)) AS band)),
      kept AS (SELECT band, chunk FROM e GROUP BY band, chunk HAVING COUNT(*) <= 100),
      ek AS (SELECT e.* FROM e JOIN kept USING (band, chunk)),
      p AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(list_sum(list_transform(range(4),
            i -> bit_count(xor(a.sk[i+1], b.sk[i+1])))) AS INTEGER) AS hamming
        FROM ek a JOIN ek b ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY id_a, id_b""")
  )

  /** LSH-bucketed ANN top-20 (same query vector as q_embed_topk), with a
    * SELF-CERTIFYING recall_at_k column vs the brute-force exact top-20
    * computed in the same plan — and a FULL DuckDB oracle: the portable
    * quantized-Rademacher planes (Similarity.rademacherPlanes) make the
    * bucket assignment integer arithmetic, so the oracle reproduces the
    * probe set, the scores AND the recall column bit-for-bit. */
  val qAnnTopK = GraftQuery(
    "q_ann_topk",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val q = emb.orderBy($"vec_id").limit(1)
        .select($"embedding").collect()(0).getSeq[Double](0)
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", q, k = 20,
        nPlanes = 3)
      Similarity.withRecall(ann,
          Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20), "vec_id", 20)
        .orderBy($"cos_sim".desc, $"vec_id")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT v AS qvec FROM e ORDER BY vec_id LIMIT 1),
      qb AS (SELECT list_transform(qvec, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qq FROM q),
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(3), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * (((p*64 + d + 1) * 2654435761 % 2147483647) * ((p*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv),
      qbkt AS (SELECT
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(3), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qq[d+1] * (CASE WHEN (48271 * (((p*64 + d + 1) * 2654435761 % 2147483647) * ((p*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS qbucket
      FROM qb),
      ann AS (SELECT vec_id,
          ROUND(list_dot_product(v, qvec) /
            (SQRT(list_dot_product(v, v)) * SQRT(list_dot_product(qvec, qvec))), 6) AS cos_sim
        FROM b, qbkt, q WHERE bit_count(xor(bucket, qbucket)) <= 1
        ORDER BY cos_sim DESC, vec_id LIMIT 20),
      brute AS (SELECT vec_id FROM (SELECT vec_id,
          ROUND(list_dot_product(v, qvec) /
            (SQRT(list_dot_product(v, v)) * SQRT(list_dot_product(qvec, qvec))), 6) AS c
        FROM e, q) scored ORDER BY c DESC, vec_id LIMIT 20),
      rec AS (SELECT ROUND(COUNT(*) / 20.0, 6) AS recall_at_k
        FROM ann JOIN brute USING (vec_id))
      SELECT ann.vec_id, ann.cos_sim, rec.recall_at_k FROM ann, rec
      ORDER BY cos_sim DESC, vec_id""")
  )

  /** The corpus-adaptive LSH plane count shared by q_embed_dup_pairs /
    * q_semantic_dedup and their oracles: the bucket id is the JOIN key,
    * so the plane count p sets both candidate volume (~N·bucket·(p+1))
    * and join-key cardinality (2^p); holding p fixed while N grows 10×
    * grows per-bucket candidate PAIRS 100× — the full-suite sf1 bench
    * caught exactly that (161 s / slope 91 before this became
    * adaptive). p = clamp(ceil(log2(ceil(N / 40))), 5, 16) keeps
    * expected bucket occupancy ≈ 40 at any corpus size, making
    * candidates ∝ N. Integer-portable on purpose: m = ceil-div then a
    * power-of-two ladder, never a float log whose ulp could flip an
    * engine at exact powers of two. The recall trade is the standard
    * single-table LSH one — collision probability per true pair decays
    * with p, and the production answer at recall-critical scale is L
    * independent plane tables (union of candidates, L× cost, still
    * ∝ N) — documented here, not built, since the synthetic corpus has
    * no planted vector dups to lose. */
  /** Plane-count ceiling: 2³⁰ bucket ids, reached only at N ≈ 43 B
    * vectors (m = N/40 > 2²⁹) — far past any corpus this engine's
    * shuffle sizing contemplates, so the ladder is effectively uncapped
    * (the round-11 census named the old p = 16 cap as the last
    * fixed-parameter cliff: past N ≈ 2.6 M docs candidates grew with an
    * N/2.6M occupancy constant). The oracle CASE below is GENERATED
    * from the same constant, never hand-enumerated. */
  private[analytics] val LshMaxPlanes = 30

  private[analytics] def lshPlanesFor(n: Long): Int = {
    val m = (n + 39L) / 40L
    val ceilLog2 = if (m <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(m - 1L)
    math.min(LshMaxPlanes, math.max(5, ceilLog2))
  }

  /** The DuckDB mirror of [[lshPlanesFor]] over table/CTE `tbl`: same
    * ceil-div + ladder, the power-of-two CASE generated to
    * [[LshMaxPlanes]]. */
  private def lshPlanesSqlOn(tbl: String): String = {
    val whens = (1 until LshMaxPlanes)
      .map(k => s"WHEN m <= ${1L << k} THEN $k").mkString("\n             ")
    s"""params AS (SELECT LEAST($LshMaxPlanes, GREATEST(5,
        CASE WHEN m <= 1 THEN 0
             $whens
             ELSE $LshMaxPlanes END)) AS np
      FROM (SELECT (COUNT(*) + 39) // 40 AS m FROM $tbl))"""
  }

  private val lshPlanesSql = lshPlanesSqlOn("embeddings")

  /** Embedding-cosine near-dup pairs, LSH-blocked with 1-bit multi-probe.
    * Threshold 0.4: the synthetic gaussian embeddings top out around
    * cosine 0.5 (no planted vector dups), so 0.4 exercises the full
    * block→probe→verify path with a non-empty result; recall against
    * brute force is asserted on planted near-dups in DedupSimilaritySpec.
    * Plane count is corpus-adaptive ([[lshPlanesFor]]) so candidate
    * volume stays ∝ N at any scale.
    *
    * BAND CONTRACT (the standard LSH trade, measured in q_lsh_recall /
    * SCALING.md): the emitted pair surface is NOT exhaustive below the
    * near-dup regime — at the adaptive plane count, band recall at
    * cosine 0.40–0.60 is 0.05–0.35. This query's value is the blocked
    * plan shape and the hash-gated block→probe→verify semantics;
    * recall-guaranteed mining is q_embed_dup_hr (≥ 0.9 at the ladder's
    * ≥ 0.95 design band) and EXHAUSTIVE moderate-band mining is
    * q_midband_pairs (recall 1.0, honestly quadratic). */
  val qEmbedDupPairs = GraftQuery(
    "q_embed_dup_pairs",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      Similarity.embeddingDupPairs(
          emb,
          "vec_id", "embedding", threshold = 0.4,
          nPlanes = lshPlanesFor(emb.count()), probeRadius = 1,
          portablePlanes = true)
        .orderBy($"id_a", $"id_b")
    },
    // the portable quantized-Rademacher planes make the blocking decision
    // integer arithmetic, so the oracle reproduces block → probe → verify
    // end to end (the ≤1-bit bucket-distance join IS the mask explode);
    // the df-cap (HAVING COUNT(*) <= 10000) mirrors dropHotKeys
    Some(s"""WITH $lshPlanesSql,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(params.np), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * (((p*64 + d + 1) * 2654435761 % 2147483647) * ((p*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv, params),
      kept AS (SELECT bucket FROM b GROUP BY bucket HAVING COUNT(*) <= 10000),
      bk AS (SELECT b.* FROM b JOIN kept USING (bucket)),
      p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
          ROUND(CASE WHEN SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v)) = 0
            THEN 0.0
            ELSE list_dot_product(a.v, c.v) /
              (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v))) END, 6) AS cos_sim
        FROM bk a JOIN bk c ON a.vec_id < c.vec_id
          AND bit_count(xor(a.bucket, c.bucket)) <= 1)
      SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""")
  )

  /** Multi-table embedding near-dup pairs: 2 independent plane tables
    * over the same corpus-adaptive plane count as q_embed_dup_pairs —
    * the production recall path when p grows with the corpus (see
    * [[graft.operators.Similarity.embeddingDupPairsTables]]). The found
    * pair set is a SUPERSET of any single table's; the oracle replays
    * both tables' blocking (plane table l = Lehmer indices l·p..l·p+p−1),
    * unions candidates, and verifies once — so the recall-restoring
    * union semantics, not just the pair list, sit under the hash gate.
    * probeRadius = 0 here (exact-bucket match): multiprobe and table
    * multiplicity are ALTERNATIVE recall levers — classic L-table LSH
    * probes exact buckets, multiprobe exists to cut the table count —
    * and paying both multiplies candidates by L·(p+1) for overlapping
    * recall (measured 24M candidates vs 2.4M on the 10× replica, whose
    * per-copy noisy near-clones share buckets at any plane count).
    *
    * Scale: candidates ∝ N·L (two narrow exact-bucket joins); the
    * verify re-attaches vectors by id exactly as the single-table
    * operator.
    *
    * BAND CONTRACT: as q_embed_dup_pairs — 2 tables demonstrate the
    * union mechanics, not a recall guarantee outside the near-dup
    * regime (measured 2-table band recall at cosine 0.40–0.60 is ~0.10,
    * q_lsh_recall / SCALING.md); the calibrated guarantee lives in
    * q_embed_dup_hr, exhaustive moderate-band mining in
    * q_midband_pairs. */
  val qEmbedDupTables = GraftQuery(
    "q_embed_dup_tables",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      Similarity.embeddingDupPairsTables(
          emb, "vec_id", "embedding", threshold = 0.4,
          nPlanes = lshPlanesFor(emb.count()), tables = 2, probeRadius = 0)
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH $lshPlanesSql,
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id, v, t.l AS tbl,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(params.np), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * ((((t.l * params.np + p)*64 + d + 1) * 2654435761 % 2147483647) * (((t.l * params.np + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv, params, UNNEST(range(2)) AS t(l)),
      kept AS (SELECT tbl, bucket FROM b GROUP BY tbl, bucket HAVING COUNT(*) <= 10000),
      bk AS (SELECT b.* FROM b JOIN kept USING (tbl, bucket)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM bk a JOIN bk c ON a.tbl = c.tbl AND a.vec_id < c.vec_id
          AND a.bucket = c.bucket),
      p AS (SELECT id_a, id_b,
          ROUND(CASE WHEN SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v)) = 0
            THEN 0.0
            ELSE list_dot_product(ea.v, eb.v) /
              (SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v))) END, 6) AS cos_sim
        FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b)
      SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.4 ORDER BY id_a, id_b""")
  )

  /** The recall-restoring table count for [[qEmbedDupHr]]: the smallest
    * L with (1 − q^p)^L ≤ 0.1 at q = 1 − arccos(0.95)/π ≈ 0.8989 — i.e.
    * L independent exact-bucket plane tables give a true pair at cosine
    * 0.95 at least 90% probability of colliding in SOME table. Derived
    * offline (gaussian-hyperplane collision model; the quantized
    * Rademacher planes track it closely at d = 64 — q_lsh_recall is the
    * empirical check) and shipped as a LITERAL ladder mirrored into the
    * oracle, so both engines agree by construction. Pairs closer than
    * 0.95 do better; pairs far below it are not the operator's target
    * (single-plane collision decays toward 1/2 and no affordable L
    * recovers them — the standard LSH contract). */
  /** The full (p_hr → L) ladder: for each plane count, the smallest L
    * with (1 − q^p)^L ≤ 0.1 at q = 1 − arccos(0.95)/π ≈ 0.8989.
    * ONE literal table generates BOTH the Scala match and the SQL CASE,
    * so the two engines cannot drift; LadderModelSpec re-derives every
    * entry from the collision model and pins minimality. Extends to
    * p_hr = [[LshMaxPlanes]] + 2 (the uncapped plane ladder's maximum),
    * where L = 69 — the documented O(N^0.15)-ish growth of holding
    * design-point recall while per-table collision decays. */
  private[analytics] val LshTableLadder: Seq[(Int, Int)] = Seq(
    7 -> 4, 8 -> 5, 9 -> 5, 10 -> 6, 11 -> 7, 12 -> 8, 13 -> 8, 14 -> 10,
    15 -> 11, 16 -> 12, 17 -> 13, 18 -> 15, 19 -> 17, 20 -> 19, 21 -> 21,
    22 -> 23, 23 -> 26, 24 -> 29, 25 -> 32, 26 -> 36, 27 -> 40, 28 -> 45,
    29 -> 50, 30 -> 56, 31 -> 62, 32 -> 69)

  /** Table count past the ladder's top rung (nph > 32 — beyond any
    * gated corpus): the ladder maximum, so the off-ladder fallback can
    * never ask for more tables than [[LshMaxTables]] lets the oracle
    * replay. ONE definition feeds the Scala getOrElse AND the SQL CASE
    * ELSE — three formerly-independent 69 literals whose accidental
    * agreement was the only thing keeping engine and oracle in step. */
  private[analytics] val LshLadderFallback: Int = LshTableLadder.map(_._2).max

  private[analytics] def lshTablesFor(pHr: Int): Int =
    LshTableLadder.toMap.getOrElse(pHr, LshLadderFallback)

  /** The ladder's largest table count — the bound the hr oracles'
    * UNNEST(range(…)) must cover. Generated from [[LshTableLadder]] so
    * the oracle can never silently replay fewer tables than
    * [[lshTablesFor]] hands the engine: a hard-coded bound (16, the
    * original) stopped being the whole ladder past nph ≥ 19 (N ~2.6M
    * docs), where the engine would have scanned more tables than the
    * oracle — a silent gate divergence at scale. Equals
    * [[LshLadderFallback]] today (the fallback IS the ladder max); the
    * max() keeps the bound sound if the fallback ever diverges. */
  private[analytics] val LshMaxTables: Int =
    math.max(LshTableLadder.map(_._2).max, LshLadderFallback)

  /** The DuckDB mirror of [[lshTablesFor]] plus the +2-plane widening:
    * emits `nph` (planes per table) and `lh` (table count) from the
    * corpus-adaptive `np` — the CASE generated from [[LshTableLadder]]. */
  private val lshHrParamsSql = {
    val whens = LshTableLadder.map { case (p, l) => s"WHEN $p THEN $l" }
      .mkString("\n          ")
    s"""hr AS (SELECT np + 2 AS nph,
        CASE np + 2
          $whens
          ELSE $LshLadderFallback END AS lh
      FROM params)"""
  }

  /** Deterministic PLANTED near-dup corpus for the design-regime queries
    * (q_embed_dup_hr / q_semantic_dedup). The synthetic embeddings carry
    * no pairs above cosine ~0.6 at any driver scale, so a query that
    * verifies in the hr ladder's calibrated regime (≥ 0.8) would be
    * structurally empty on the raw table — instead these queries PLANT
    * the structure they are calibrated for, derived from the input
    * itself: every 8th vector gets a clone (id + off) at v·0.98 plus
    * integer-keyed uniform noise whose amplitude ladder
    * {0.03, 0.05, 0.07} (cycling by source index) lands the clone at
    * cosine ≈ {0.99, 0.97, 0.95} against its source on this unit-norm
    * corpus — spanning the ladder's ≥ 0.95 design band. Same
    * derive-from-input discipline and noise-PRF shape as tools/ScaleUp;
    * integer keys + fixed-order IEEE double ops, so the oracle
    * regenerates the corpus bit-identically.
    * Returns (corpus, cloneIdOffset, nPlanted). */
  private[graft] def plantedEmbeddings(s: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, Long, Long) = {
    import s.implicits._
    val base = Tables.embeddings(s, dir)
      .withColumn("embedding", $"embedding".cast("array<double>"))
    val head = base.agg(max($"vec_id").as("mx"),
      sum(when($"vec_id" % 8 === 0, 1L).otherwise(0L)).as("np")).head()
    val off = head.getLong(0) + 1L
    val nPlanted = head.getLong(1)
    val amp = (lit(3L) + lit(2L) * pmod(expr("vec_id div 8"), lit(3L)))
      .cast("double") / 100.0
    val noisy = transform($"embedding", (e, i) =>
      e * lit(0.98) +
        (pmod(($"vec_id" * 64 + i.cast("long") + 1L) * lit(2654435761L), lit(2001L))
          .cast("double") - 1000.0) / 1000.0 * amp)
    // two-step select: aliasing (vec_id + off) AS vec_id in the SAME
    // list as `noisy` would hijack noisy's $"vec_id" via lateral column
    // alias resolution — the noise would key on the CLONE id (and the
    // wrong amp rung), silently diverging from the oracle's mirror
    val corpus = base.select($"vec_id", $"embedding", $"label")
      .unionByName(base.filter($"vec_id" % 8 === 0)
        .select($"vec_id".as("src_id"), noisy.as("embedding"), $"label")
        .select(($"src_id" + off).as("vec_id"), $"embedding", $"label"))
    (corpus, off, nPlanted)
  }

  /** The DuckDB mirror of [[plantedEmbeddings]]: emits `base`, `mx`
    * (clone id offset) and the augmented corpus `e(vec_id, label, v)`. */
  private[analytics] val plantedCorpusSql =
    """base AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      mx AS (SELECT MAX(vec_id) + 1 AS off FROM base),
      e AS (
        SELECT vec_id, label, v FROM base
        UNION ALL
        SELECT b.vec_id + mx.off AS vec_id, b.label,
          list_transform(range(64), i -> v[i+1] * 0.98 +
            (CAST(((b.vec_id * 64 + i + 1) * 2654435761) % 2001 AS DOUBLE) - 1000.0) / 1000.0 *
            (CAST(3 + 2 * ((b.vec_id // 8) % 3) AS DOUBLE) / 100.0)) AS v
        FROM base b, mx WHERE b.vec_id % 8 = 0)"""

  /** HIGH-RECALL embedding near-dup pairs AT THE DESIGN POINT: the
    * production recall restoration the adaptive plane ladder trades
    * away, verified at threshold 0.8 — inside the regime the ladder is
    * calibrated for — over the [[plantedEmbeddings]] corpus (clones at
    * cosine 0.95–0.99; the raw synthetic table has nothing above ~0.6,
    * so the design regime would otherwise be structurally empty). Two
    * levers, both corpus-adaptive: each table gets p+2 planes (4×
    * smaller buckets than the occupancy-targeted p, so the extra tables
    * don't quadruple candidate volume), and the table count L comes
    * from [[lshTablesFor]] so a cosine-0.95 pair keeps ≥ 90% collision
    * probability at ANY corpus size. The result is SELF-CERTIFYING:
    * every row carries n_planted and the measured recall_planted_ppm
    * over the planted pairs — the emitted contract and the calibrated
    * contract are the same number, and DedupSimilaritySpec pins the
    * floor. Candidates stay ∝ N·L·occupancy with occupancy ≈ 10 by
    * construction; L grows with log N (≈ 0.75·p), so total cost is
    * O(N log N) against the single-table O(N) — the documented price
    * of holding recall while density grows. Exact-bucket match per
    * table (probeRadius 0): table multiplicity and multiprobe are
    * alternative recall levers, and the ladder is calibrated for the
    * exact-match collision probability. BAND CONTRACT: below the
    * design band no affordable L holds recall (cosine 0.4 needs
    * L ≈ 144 at p = 9) — moderate-band mining is q_midband_pairs. */
  val qEmbedDupHr = GraftQuery(
    "q_embed_dup_hr",
    (s, dir) => {
      import s.implicits._
      val (corpus, off, nPlanted) = plantedEmbeddings(s, dir)
      val emb = graft.operators.Caches.register(corpus)
      val pHr = lshPlanesFor(emb.count()) + 2
      val pairs = Similarity.embeddingDupPairsTables(
        emb, "vec_id", "embedding", threshold = 0.8,
        nPlanes = pHr, tables = lshTablesFor(pHr), probeRadius = 0)
      val rec = pairs.agg(
        coalesce(sum(when($"id_b" === $"id_a" + off && $"id_a" % 8 === 0, 1L)
          .otherwise(0L)), lit(0L)).as("n_found"))
        .select(lit(nPlanted).as("n_planted"),
          expr(s"CAST(n_found * 1000000 div $nPlanted AS BIGINT)")
            .as("recall_planted_ppm"))
      pairs.crossJoin(rec).orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH $plantedCorpusSql, ${lshPlanesSqlOn("e")}, $lshHrParamsSql,
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id, v, t.l AS tbl,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(hr.nph), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * ((((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) * (((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv, hr, UNNEST(range($LshMaxTables)) AS t(l) WHERE t.l < hr.lh),
      kept AS (SELECT tbl, bucket FROM b GROUP BY tbl, bucket HAVING COUNT(*) <= 10000),
      bk AS (SELECT b.* FROM b JOIN kept USING (tbl, bucket)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM bk a JOIN bk c ON a.tbl = c.tbl AND a.vec_id < c.vec_id
          AND a.bucket = c.bucket),
      p AS (SELECT id_a, id_b,
          ROUND(CASE WHEN SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v)) = 0
            THEN 0.0
            ELSE list_dot_product(ea.v, eb.v) /
              (SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v))) END, 6) AS cos_sim
        FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b),
      found AS (SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.8),
      rec AS (SELECT
          (SELECT CAST(COUNT(*) AS BIGINT) FROM base WHERE vec_id % 8 = 0) AS n_planted,
          CAST((SELECT COALESCE(SUM(CASE WHEN f.id_b = f.id_a + (SELECT off FROM mx)
                  AND f.id_a % 8 = 0 THEN 1 ELSE 0 END), 0) FROM found f) * 1000000
            // (SELECT COUNT(*) FROM base WHERE vec_id % 8 = 0) AS BIGINT) AS recall_planted_ppm)
      SELECT id_a, id_b, cos_sim, rec.n_planted, rec.recall_planted_ppm
      FROM found, rec ORDER BY id_a, id_b""")
  )

  /** Disjoint plane table for q_lsh_recall's corpus sampler — far above
    * any production offset (the hr ladder peaks at L = 69 tables ×
    * p_hr = 32 planes → max plane index 2207 < 4096), so the sampling
    * decision is independent of every blocking decision it audits. */
  private val RecallSamplerOffset = 4096
  private val RecallSliceTarget = 1200L

  /** ADAPTIVE sampler plane count (round-11 census: the fixed 10-plane
    * sampler has 1024 cells and stops sampling — keeps only cell 0,
    * whose population grows ∝ N — once stride > 1024, i.e. N ≳ 1.2 M
    * docs). p_s = max(10, ceil(log2(stride)) + 5) keeps the kept-cell
    * count 2^p_s / stride ≥ ~32 at ANY corpus size, so the slice stays
    * ≈ 32 cells × 40-doc occupancy ≈ 1200 docs and its O(slice²) brute
    * force stays bounded by construction. Mirrored into the oracle as a
    * generated power-of-two CASE. */
  private[graft] def recallSamplerPlanesFor(stride: Long): Int = {
    val c = if (stride <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(stride - 1L)
    math.max(10, c + 5)
  }

  /** The DuckDB mirror of [[recallSamplerPlanesFor]]: emits `stride`
    * and `spl` (sampler plane count). */
  private def recallSamplerSqlOn(tbl: String): String = {
    val whens = (1 to 45).map(k => s"WHEN stride <= ${1L << k} THEN ${k + 5}")
      .mkString("\n          ")
    s"""sp AS (SELECT stride, GREATEST(10,
        CASE WHEN stride <= 1 THEN 5
          $whens
          ELSE 51 END) AS spl
      FROM (SELECT (COUNT(*) + ${RecallSliceTarget - 1}) // $RecallSliceTarget AS stride FROM $tbl))"""
  }

  /** LSH pair RECALL against brute-force ground truth — the number the
    * hash oracle structurally cannot certify (both engines replay the
    * same blocking algorithm, so they agree even on a recall-degraded
    * answer; this query carries the ground truth INSIDE the result).
    *
    * A corpus-size-bounded slice (expected ≈ 1200 docs) is drawn by
    * COARSE LSH CELL — an ADAPTIVE plane count
    * ([[recallSamplerPlanesFor]]: cells ≥ ~32 × stride at any N) from a
    * disjoint offset, keep cells with `cell % stride == 0` — so
    * near-neighbor structure survives
    * sampling: a near-dup pair shares its coarse cell with probability
    * ≈ its coarse collision probability, where id-stride sampling would
    * keep a pair only with probability 1/stride². Within a cosine band
    * the production-blocking collision probability depends only on the
    * pair's angle, and the sampler planes are independent of the
    * production planes, so per-band recall over the slice estimates
    * per-band recall over the corpus (the residual within-band bias
    * toward closer pairs is second-order at 0.05–0.2-wide bands).
    *
    * The slice is brute-forced exactly (all pairs, fused dot kernel);
    * each true pair (cos ≥ 0.4) is then tested against the PER-PAIR
    * blocking predicate of three production configs — no candidate
    * join needed, because bucket functions are per-doc: q_embed_dup_pairs
    * (single table, adaptive p, 1-bit multiprobe) → bucket XOR distance
    * ≤ 1; q_embed_dup_tables (2 tables, radius 0) → either table's
    * buckets equal; q_embed_dup_hr (L tables at p+2 planes,
    * [[lshTablesFor]]) → any table's buckets equal. The df-cap is not
    * modeled: it is vacuous at every measured scale (10k-doc buckets
    * against ≤ 40-doc expected occupancy) and is a separately
    * documented safety valve, not part of the collision geometry.
    *
    * Output: one row per cosine band plus an 'all' rollup —
    * (n_true, found, recall_ppm) per config, with the adaptive plane
    * and table counts for context. Recall floors are asserted in
    * DedupSimilaritySpec (planted near-dups through this same
    * machinery); SCALING.md carries the measured sf0.01/sf0.1/sf1
    * numbers. Scale: the N² term is confined to the ≈1200-doc slice
    * (~0.7M pairs at any corpus size); everything corpus-sized is one
    * count and one narrow map pass for the slice filter. */
  val qLshRecall = GraftQuery(
    "q_lsh_recall",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val n = emb.count()
      val p = lshPlanesFor(n)
      val pHr = p + 2
      val lHr = lshTablesFor(pHr)
      val stride = ((n + RecallSliceTarget - 1L) / RecallSliceTarget).toInt
      val samplerPlanes = recallSamplerPlanesFor(stride)
      val slice = graft.operators.Caches.register(emb.select(
          $"vec_id".as("id"), $"embedding".as("v"),
          Similarity.portableBucketNative($"embedding",
            samplerPlanes, 64, RecallSamplerOffset).as("cell"),
          Similarity.portableBucketNative($"embedding", p, 64, 0).as("b0"),
          Similarity.portableBucketNative($"embedding", p, 64, p).as("b1"),
          array((0 until lHr).map(l =>
            Similarity.portableBucketNative($"embedding", pHr, 64, l * pHr)): _*)
            .as("hb"),
          sqrt(Similarity.dotNative($"embedding", $"embedding")).as("nrm"))
        .filter($"cell" % stride === 0)
        .drop("cell"))
      val a = slice.select($"id".as("id_a"), $"v".as("va"), $"b0".as("b0a"),
        $"b1".as("b1a"), $"hb".as("hba"), $"nrm".as("na"))
      val c = slice.select($"id".as("id_b"), $"v".as("vb"), $"b0".as("b0b"),
        $"b1".as("b1b"), $"hb".as("hbb"), $"nrm".as("nb"))
      val denom = $"na" * $"nb"
      val pairs = a.join(c, $"id_a" < $"id_b")
        .withColumn("cos_sim", round(when(denom === 0.0, 0.0)
          .otherwise(Similarity.dotNative($"va", $"vb") / denom), 6))
        .filter($"cos_sim" >= 0.4)
        .withColumn("band",
          when($"cos_sim" < 0.6, "0.40-0.60")
            .when($"cos_sim" < 0.8, "0.60-0.80")
            .when($"cos_sim" < 0.95, "0.80-0.95")
            .otherwise("0.95-1.00"))
        .withColumn("f_probe",
          bit_count($"b0a".bitwiseXOR($"b0b")) <= 1)
        .withColumn("f_tab2", ($"b0a" === $"b0b") || ($"b1a" === $"b1b"))
        .withColumn("f_hr",
          exists(zip_with($"hba", $"hbb", (x, y) => x === y), b => b))
        .select($"band", $"f_probe", $"f_tab2", $"f_hr")
      def tally(g: org.apache.spark.sql.RelationalGroupedDataset) = g.agg(
        count(lit(1)).as("n_true"),
        sum(when($"f_probe", 1L).otherwise(0L)).as("n_probe"),
        sum(when($"f_tab2", 1L).otherwise(0L)).as("n_tab2"),
        sum(when($"f_hr", 1L).otherwise(0L)).as("n_hr"))
      val cached = graft.operators.Caches.register(pairs)
      tally(cached.groupBy($"band"))
        .unionByName(tally(cached.groupBy(lit("all").as("band"))))
        .select($"band", $"n_true",
          $"n_probe",
          expr("CAST(n_probe * 1000000 div n_true AS BIGINT)").as("recall_probe_ppm"),
          $"n_tab2",
          expr("CAST(n_tab2 * 1000000 div n_true AS BIGINT)").as("recall_tab2_ppm"),
          $"n_hr",
          expr("CAST(n_hr * 1000000 div n_true AS BIGINT)").as("recall_hr_ppm"),
          lit(p).as("n_planes"), lit(lHr).as("hr_tables"))
        .orderBy($"band")
    },
    Some(s"""WITH $lshPlanesSql, $lshHrParamsSql,
      ${recallSamplerSqlOn("embeddings")},
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      sl AS (SELECT vec_id, v,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(params.np), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * (((p*64 + d + 1) * 2654435761 % 2147483647) * ((p*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS b0,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(params.np), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * ((((params.np + p)*64 + d + 1) * 2654435761 % 2147483647) * (((params.np + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS b1,
        list_transform(range(hr.lh), l ->
          list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(hr.nph), p ->
            CASE WHEN list_sum(list_transform(range(64), d ->
              qv[d+1] * (CASE WHEN (48271 * ((((l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) * (((l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                         THEN 1 ELSE -1 END))) >= 0
              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
            (acc, x) -> acc * 2 + x)) AS hb
      FROM bv, params, hr, sp
      WHERE list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(sp.spl), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * (((($RecallSamplerOffset + p)*64 + d + 1) * 2654435761 % 2147483647) * ((($RecallSamplerOffset + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) % sp.stride = 0),
      pb AS (SELECT
          CASE WHEN cs < 0.6 THEN '0.40-0.60' WHEN cs < 0.8 THEN '0.60-0.80'
               WHEN cs < 0.95 THEN '0.80-0.95' ELSE '0.95-1.00' END AS band,
          bit_count(xor(ab0, cb0)) <= 1 AS f_probe,
          (ab0 = cb0 OR ab1 = cb1) AS f_tab2,
          len(list_filter(range(len(ahb)), l -> ahb[l+1] = chb[l+1])) > 0 AS f_hr
        FROM (SELECT a.b0 AS ab0, a.b1 AS ab1, a.hb AS ahb,
            c.b0 AS cb0, c.b1 AS cb1, c.hb AS chb,
            ROUND(CASE WHEN SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v)) = 0
              THEN 0.0
              ELSE list_dot_product(a.v, c.v) /
                (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v))) END, 6) AS cs
          FROM sl a JOIN sl c ON a.vec_id < c.vec_id)
        WHERE cs >= 0.4),
      agg AS (SELECT band, COUNT(*) AS n_true,
          SUM(CASE WHEN f_probe THEN 1 ELSE 0 END) AS n_probe,
          SUM(CASE WHEN f_tab2 THEN 1 ELSE 0 END) AS n_tab2,
          SUM(CASE WHEN f_hr THEN 1 ELSE 0 END) AS n_hr
        FROM pb GROUP BY band
        UNION ALL
        SELECT 'all', COUNT(*),
          SUM(CASE WHEN f_probe THEN 1 ELSE 0 END),
          SUM(CASE WHEN f_tab2 THEN 1 ELSE 0 END),
          SUM(CASE WHEN f_hr THEN 1 ELSE 0 END)
        FROM pb HAVING COUNT(*) > 0)
      SELECT band, CAST(n_true AS BIGINT) AS n_true,
        CAST(n_probe AS BIGINT) AS n_probe,
        CAST(n_probe * 1000000 // n_true AS BIGINT) AS recall_probe_ppm,
        CAST(n_tab2 AS BIGINT) AS n_tab2,
        CAST(n_tab2 * 1000000 // n_true AS BIGINT) AS recall_tab2_ppm,
        CAST(n_hr AS BIGINT) AS n_hr,
        CAST(n_hr * 1000000 // n_true AS BIGINT) AS recall_hr_ppm,
        CAST(params.np AS INT) AS n_planes, CAST(hr.lh AS INT) AS hr_tables
      FROM agg, params, hr ORDER BY band""")
  )

  /** SemDeDup-style semantic dedup survivors AT THE DESIGN POINT: the
    * greedy smaller-id ε-net pruning over the [[plantedEmbeddings]]
    * corpus, with the pair surface from the CALIBRATED hr ladder
    * (L tables × p+2 planes, exact-bucket match) at threshold 0.8 —
    * so the emitted semantics ("every vector with a smaller-id near-dup
    * is dropped") operate inside the regime where the blocking holds
    * ≥ 90% recall by construction, instead of a moderate-similarity
    * threshold where the same ladder measurably finds 5–35% of pairs
    * (q_lsh_recall / SCALING.md). Every planted clone's source has the
    * smaller id, so the expected survivor set is the base corpus plus
    * the few clones the ladder misses — the drop is real, measurable
    * work, not a vacuous anti-join. The oracle replays clone planting,
    * L-table blocking, verify and anti-join end to end. Moderate-band
    * exhaustive dedup composes q_midband_pairs' operator with the same
    * anti-join instead. */
  val qSemanticDedup = GraftQuery(
    "q_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      val (corpus, _, _) = plantedEmbeddings(s, dir)
      val emb = graft.operators.Caches.register(corpus)
      val pHr = lshPlanesFor(emb.count()) + 2
      Similarity.semanticDedupTables(
          emb, "vec_id", "embedding", threshold = 0.8,
          nPlanes = pHr, tables = lshTablesFor(pHr), probeRadius = 0)
        .select($"vec_id", $"label")
        .orderBy($"vec_id")
    },
    Some(s"""WITH $plantedCorpusSql, ${lshPlanesSqlOn("e")}, $lshHrParamsSql,
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id, v, t.l AS tbl,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(hr.nph), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * ((((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) * (((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv, hr, UNNEST(range($LshMaxTables)) AS t(l) WHERE t.l < hr.lh),
      kept AS (SELECT tbl, bucket FROM b GROUP BY tbl, bucket HAVING COUNT(*) <= 10000),
      bk AS (SELECT b.* FROM b JOIN kept USING (tbl, bucket)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM bk a JOIN bk c ON a.tbl = c.tbl AND a.vec_id < c.vec_id
          AND a.bucket = c.bucket),
      p AS (SELECT id_a, id_b,
          ROUND(CASE WHEN SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v)) = 0
            THEN 0.0
            ELSE list_dot_product(ea.v, eb.v) /
              (SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v))) END, 6) AS cos_sim
        FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b),
      dropped AS (SELECT DISTINCT id_b FROM p WHERE cos_sim >= 0.8)
      SELECT vec_id, label FROM e
      WHERE vec_id NOT IN (SELECT id_b FROM dropped)
      ORDER BY vec_id""")
  )

  /** INCREMENTAL semantic dedup — the embedding analogue of
    * q_delta_neardup and the production flow of CONTINUOUS corpus
    * ingestion: the planted clones arrive as the new batch, the base
    * corpus is the immutable already-ingested history, and the batch is
    * deduped against history + earlier batch docs WITHOUT re-bucketing
    * history: the query builds the narrow (id, table, bucket) relation
    * through [[graft.operators.Similarity.semanticBucketIndex]] — the
    * persisted, Caches-registered index a production session builds
    * once per history snapshot and passes to every batch's delta call
    * (DedupSimilaritySpec pins that a second batch against the same
    * index plans ZERO history-side bucket recomputation); history
    * vectors are touched only for candidate verifies.
    * Same calibrated hr ladder as q_semantic_dedup (threshold 0.8,
    * L tables × p+2 planes, exact-bucket match, shared df-cap across
    * index + batch), so the design-point recall contract carries over —
    * nearly every clone should drop against its history source. Output
    * is every batch row with a kept flag (never empty, drop-rate
    * readable from the rows); the oracle replays clone planting,
    * src-tagged L-table blocking, the batch-side candidate rule
    * (ANY history match OR smaller-id batch match) and the verify. */
  val qDeltaSemantic = GraftQuery(
    "q_delta_semantic",
    (s, dir) => {
      import s.implicits._
      val (corpus, off, _) = plantedEmbeddings(s, dir)
      val emb = graft.operators.Caches.register(corpus)
      val history = emb.filter($"vec_id" < off)
      val batch = emb.filter($"vec_id" >= off)
      val pHr = lshPlanesFor(emb.count()) + 2
      val lHr = lshTablesFor(pHr)
      val hIdx = Similarity.semanticBucketIndex(history, "vec_id",
        "embedding", nPlanes = pHr, tables = lHr)
      val dropped = Similarity.deltaSemanticDroppedIds(history, batch,
        "vec_id", "embedding", threshold = 0.8, nPlanes = pHr,
        tables = lHr, historyIndex = Some(hIdx))
      batch.join(dropped.withColumnRenamed("id", "vec_id")
          .withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
        .select($"vec_id", $"label",
          when($"is_dropped".isNotNull, 0L).otherwise(1L).as("kept"))
        .orderBy($"vec_id")
    },
    Some(s"""WITH $plantedCorpusSql, ${lshPlanesSqlOn("e")}, $lshHrParamsSql,
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id,
        CASE WHEN vec_id >= mx.off THEN 1 ELSE 0 END AS src, t.l AS tbl,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(hr.nph), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * ((((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) * (((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv, hr, mx, UNNEST(range($LshMaxTables)) AS t(l) WHERE t.l < hr.lh),
      kept AS (SELECT tbl, bucket FROM b GROUP BY tbl, bucket HAVING COUNT(*) <= 10000),
      bk AS (SELECT b.* FROM b JOIN kept USING (tbl, bucket)),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM bk a JOIN bk c ON a.tbl = c.tbl AND a.bucket = c.bucket
        WHERE a.src = 1 AND (c.src = 0 OR (c.src = 1 AND c.vec_id < a.vec_id))),
      p AS (SELECT id_a,
          ROUND(CASE WHEN SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v)) = 0
            THEN 0.0
            ELSE list_dot_product(ea.v, eb.v) /
              (SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v))) END, 6) AS cos_sim
        FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b),
      dropped AS (SELECT DISTINCT id_a FROM p WHERE cos_sim >= 0.8),
      batch AS (SELECT e.vec_id, e.label FROM e, mx WHERE e.vec_id >= mx.off)
      SELECT batch.vec_id, batch.label,
        CAST(CASE WHEN d.id_a IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM batch LEFT JOIN dropped d ON batch.vec_id = d.id_a
      ORDER BY batch.vec_id""")
  )

  /** TWO-GENERATION incremental semantic dedup — the continuous-
    * ingestion loop q_delta_semantic opens, CLOSED: that query dedups
    * ONE batch against an immutable history; production appends the
    * batch to the index and ingests the next. Here the clone batch
    * arrives as TWO waves split at mid = off + off/2 (portable integer
    * arithmetic in both engines): wave 1 dedups against the persisted
    * history index, the index ABSORBS wave 1
    * ([[graft.operators.Similarity.SemanticIndex.absorb]] — the WHOLE
    * wave, not just survivors, which is what makes sequential
    * ingestion ≡ one-shot union dedup; see absorb's scaladoc and the
    * DedupSimilaritySpec associativity pin), and wave 2 dedups against
    * the grown index — history is never re-bucketed in either
    * generation. Each generation applies its own df-cap over
    * index + arriving wave (the per-run cap contract of
    * [[graft.operators.Similarity.semanticBucketIndex]]). The oracle
    * replays BOTH generations: src ∈ {0 history, 1 wave-1, 2 wave-2},
    * generation-scoped cap relations (kept1 over src ≤ 1, kept2 over
    * all), each wave's candidate rule, one shared verify. Output =
    * every batch row with its wave and kept flag. */
  val qDeltaSemantic2b = GraftQuery(
    "q_delta_semantic_2b",
    (s, dir) => {
      import s.implicits._
      val (corpus, off, _) = plantedEmbeddings(s, dir)
      val emb = graft.operators.Caches.register(corpus)
      val mid = off + off / 2
      val history = emb.filter($"vec_id" < off)
      val b1 = emb.filter($"vec_id" >= off && $"vec_id" < mid)
      val b2 = emb.filter($"vec_id" >= mid)
      val pHr = lshPlanesFor(emb.count()) + 2
      val lHr = lshTablesFor(pHr)
      val idx0 = Similarity.semanticBucketIndex(history, "vec_id",
        "embedding", nPlanes = pHr, tables = lHr)
      // one verify-vector relation covers BOTH generations (the verify
      // attaches by id, so the superset changes nothing) — the corpus
      // norm pass + its count job run once instead of once per wave
      val vnAll = Similarity.verifyVectorRelation(emb, "vec_id", "embedding")
      val drop1 = Similarity.deltaSemanticDroppedIds(history, b1,
        "vec_id", "embedding", threshold = 0.8, nPlanes = pHr,
        tables = lHr, historyIndex = Some(idx0), verifyVectors = Some(vnAll))
      val idx1 = idx0.absorb(b1, "vec_id", "embedding")
      val drop2 = Similarity.deltaSemanticDroppedIds(
        history.unionByName(b1), b2,
        "vec_id", "embedding", threshold = 0.8, nPlanes = pHr,
        tables = lHr, historyIndex = Some(idx1), verifyVectors = Some(vnAll))
      emb.filter($"vec_id" >= off)
        .join(drop1.unionByName(drop2).withColumnRenamed("id", "vec_id")
          .withColumn("is_dropped", lit(1L)), Seq("vec_id"), "left")
        .select($"vec_id", $"label",
          when($"vec_id" >= mid, 2L).otherwise(1L).as("batch_no"),
          when($"is_dropped".isNotNull, 0L).otherwise(1L).as("kept"))
        .orderBy($"vec_id")
    },
    Some(s"""WITH $plantedCorpusSql, ${lshPlanesSqlOn("e")}, $lshHrParamsSql,
      md AS (SELECT off + off // 2 AS mid FROM mx),
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      b AS (SELECT vec_id,
        CASE WHEN vec_id >= md.mid THEN 2
             WHEN vec_id >= mx.off THEN 1 ELSE 0 END AS src, t.l AS tbl,
        list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(hr.nph), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * ((((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) * (((t.l * hr.nph + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) AS bucket
      FROM bv, hr, mx, md, UNNEST(range($LshMaxTables)) AS t(l) WHERE t.l < hr.lh),
      kept1 AS (SELECT tbl, bucket FROM b WHERE src <= 1
        GROUP BY tbl, bucket HAVING COUNT(*) <= 10000),
      bk1 AS (SELECT b.* FROM b JOIN kept1 USING (tbl, bucket) WHERE b.src <= 1),
      cand1 AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM bk1 a JOIN bk1 c ON a.tbl = c.tbl AND a.bucket = c.bucket
        WHERE a.src = 1 AND (c.src = 0 OR (c.src = 1 AND c.vec_id < a.vec_id))),
      kept2 AS (SELECT tbl, bucket FROM b
        GROUP BY tbl, bucket HAVING COUNT(*) <= 10000),
      bk2 AS (SELECT b.* FROM b JOIN kept2 USING (tbl, bucket)),
      cand2 AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
        FROM bk2 a JOIN bk2 c ON a.tbl = c.tbl AND a.bucket = c.bucket
        WHERE a.src = 2 AND (c.src <= 1 OR (c.src = 2 AND c.vec_id < a.vec_id))),
      cand AS (SELECT id_a, id_b FROM cand1 UNION ALL SELECT id_a, id_b FROM cand2),
      p AS (SELECT id_a,
          ROUND(CASE WHEN SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v)) = 0
            THEN 0.0
            ELSE list_dot_product(ea.v, eb.v) /
              (SQRT(list_dot_product(ea.v, ea.v)) * SQRT(list_dot_product(eb.v, eb.v))) END, 6) AS cos_sim
        FROM cand JOIN e ea ON ea.vec_id = id_a JOIN e eb ON eb.vec_id = id_b),
      dropped AS (SELECT DISTINCT id_a FROM p WHERE cos_sim >= 0.8),
      batch AS (SELECT e.vec_id, e.label FROM e, mx WHERE e.vec_id >= mx.off)
      SELECT batch.vec_id, batch.label,
        CAST(CASE WHEN batch.vec_id >= md.mid THEN 2 ELSE 1 END AS BIGINT) AS batch_no,
        CAST(CASE WHEN d.id_a IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM batch LEFT JOIN dropped d ON batch.vec_id = d.id_a, md
      ORDER BY batch.vec_id""")
  )

  /** EXACT moderate-band cosine pairs [0.4, 0.8) — the band the LSH
    * family's contract EXCLUDES: at a corpus-adaptive plane count,
    * measured band recall at cosine 0.4–0.6 is 0.05–0.35 (q_lsh_recall,
    * SCALING.md) and no affordable table count restores it. This query
    * runs [[graft.operators.Similarity.tiledBruteForcePairs]]: recall
    * 1.0 by construction at honestly-quadratic cost, block-tiled so
    * per-task memory is two ~2048-vector blocks and the Θ(N²) fused-dot
    * work spreads evenly — the single-node cartesian becomes a uniform
    * shuffle. The oracle is the plain quadratic self-join: same rounded
    * cosine, same band. */
  val qMidbandPairs = GraftQuery(
    "q_midband_pairs",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      Similarity.tiledBruteForcePairs(emb, "vec_id", "embedding", 0.4, 0.8)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
          ROUND(CASE WHEN SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v)) = 0
            THEN 0.0
            ELSE list_dot_product(a.v, c.v) /
              (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v))) END, 6) AS cos_sim
        FROM e a JOIN e c ON a.vec_id < c.vec_id)
      SELECT id_a, id_b, cos_sim FROM p
      WHERE cos_sim >= 0.4 AND cos_sim < 0.8 ORDER BY id_a, id_b""")
  )

  /** The calibrated-slice CTEs shared by the slice-bounded exact
    * diagnostics ([[qMidbandSlice]], [[qIntrinsicDim]]): `e` (double
    * vectors), `bv` (the bucket-hash integer view) and `sl` — the
    * cell ≡ 0 mod stride slice, (vec_id, v). Callers splice
    * [[recallSamplerSqlOn]] (which provides `sp`) ahead of this
    * block. */
  private def recallSliceCtes: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      bv AS (SELECT vec_id, v,
        list_transform(v, x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS qv FROM e),
      sl AS (SELECT vec_id, v FROM bv, sp
        WHERE list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(sp.spl), p ->
          CASE WHEN list_sum(list_transform(range(64), d ->
            qv[d+1] * (CASE WHEN (48271 * (((($RecallSamplerOffset + p)*64 + d + 1) * 2654435761 % 2147483647) * ((($RecallSamplerOffset + p)*64 + d + 1) * 2654435761 % 2147483647) % 2147483647)) % 2147483647 < 1073741824
                       THEN 1 ELSE -1 END))) >= 0
            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)),
          (acc, x) -> acc * 2 + x) % sp.stride = 0)"""

  /** The midband operator AT SCALE: q_midband_pairs is honestly
    * quadratic (exhaustive mining at cosine 0.4–0.8 is
    * information-theoretically so) and therefore unrunnable as-is past
    * ~10⁶ vectors; this is its corpus-size-bounded form — the EXACT
    * miner over a COARSE-CELL SLICE (the q_lsh_recall sampler: adaptive
    * plane count, disjoint plane offset, keep cells ≡ 0 mod stride,
    * expected ≈ 1200 docs at ANY corpus size). Cell sampling preserves
    * near-neighbor structure (a moderate pair survives with its coarse
    * collision probability, not 1/stride²), so the slice's pair surface
    * is the calibrated estimator of the corpus's band density — recall
    * 1.0 WITHIN the slice by construction, slice stats (n_slice,
    * stride) carried in every row so the extrapolation
    * n_pairs·stride·(collision⁻¹) is the reader's, honestly. The Θ(N²)
    * term is confined to the slice (~0.7M dots at any N); everything
    * corpus-sized is one count and the narrow cell-filter pass. The
    * oracle replays sampler, slice and quadratic mine end to end. */
  val qMidbandSlice = GraftQuery(
    "q_midband_slice",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val n = emb.count()
      val stride = ((n + RecallSliceTarget - 1L) / RecallSliceTarget).toInt
      val samplerPlanes = recallSamplerPlanesFor(stride)
      val slice = graft.operators.Caches.register(emb
        .select($"vec_id", $"embedding",
          Similarity.portableBucketNative($"embedding",
            samplerPlanes, 64, RecallSamplerOffset).as("cell"))
        .filter($"cell" % stride === 0).drop("cell"))
      val nSlice = slice.count()
      Similarity.tiledBruteForcePairs(slice, "vec_id", "embedding", 0.4, 0.8)
        .withColumn("n_slice", lit(nSlice))
        .withColumn("stride", lit(stride.toLong))
        .orderBy($"id_a", $"id_b")
    },
    Some(s"""WITH ${recallSamplerSqlOn("embeddings")},
      $recallSliceCtes,
      ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slice FROM sl),
      p AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b,
          ROUND(CASE WHEN SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v)) = 0
            THEN 0.0
            ELSE list_dot_product(a.v, c.v) /
              (SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(c.v, c.v))) END, 6) AS cos_sim
        FROM sl a JOIN sl c ON a.vec_id < c.vec_id)
      SELECT id_a, id_b, cos_sim, ns.n_slice, CAST(sp.stride AS BIGINT) AS stride
      FROM p, ns, sp
      WHERE cos_sim >= 0.4 AND cos_sim < 0.8 ORDER BY id_a, id_b""")
  )

  /** TwoNN INTRINSIC DIMENSION (Facco et al., "Estimating the intrinsic
    * dimension of datasets by a minimal neighborhood information"): the
    * MLE over per-point ratios μ = r₂/r₁ of second- to first-neighbor
    * distance — id = n / Σ ln μ — the embedding-health diagnostic that
    * tells a curation pipeline whether its 64-dim vectors actually span
    * 64 dimensions or live on a much lower manifold (collapsed encoders
    * and template-heavy corpora both show up as id ≪ d before any
    * downstream index is built). Exact 2-NN is Θ(N²), so the estimator
    * runs over the SAME calibrated coarse-cell slice as
    * [[qMidbandSlice]] (~1200 points at ANY corpus size — cell sampling
    * preserves local neighbor structure, which is exactly what a
    * neighbor-ratio statistic needs; the quadratic term is flat in N).
    * Arithmetic discipline: distances are exact shifted-integer L2
    * (fused graft_dot_long composition), zero-distance neighbors
    * (exact duplicates) are excluded BEFORE ranking so μ is always
    * finite, ln μ = ln(d₂/d₁)/2 enters a DECIMAL(18,12) sum (the
    * q_zipf_fit ln discipline), and the estimate rounds to 6. Points
    * with fewer than two positive-distance neighbors drop out
    * deterministically (n_used carries the survivor count). The oracle
    * replays sampler, slice, quantization, the full pair matrix, the
    * rank-2 cut and the MLE. */
  val qIntrinsicDim = GraftQuery(
    "q_intrinsic_dim",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      def dotl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        call_function("graft_dot_long", a, b)
      val emb = Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val n = emb.count()
      val stride = ((n + RecallSliceTarget - 1L) / RecallSliceTarget).toInt
      val samplerPlanes = recallSamplerPlanesFor(stride)
      val slice = Caches.register(emb
        .select($"vec_id",
          FixedPointKMeans.quantize($"embedding").as("v"),
          Similarity.portableBucketNative($"embedding",
            samplerPlanes, 64, RecallSamplerOffset).as("cell"))
        .filter($"cell" % stride === 0).select($"vec_id", $"v"))
      val nSlice = slice.count()
      val pairs = slice.toDF("id_a", "va")
        .crossJoin(slice.toDF("id_b", "vb"))
        .filter($"id_a" =!= $"id_b")
        .select($"id_a", $"id_b",
          (dotl($"va", $"va") + dotl($"vb", $"vb") -
            lit(2L) * dotl($"va", $"vb")).as("d"))
        .filter($"d" > 0L)
      val top2 = graft.plans.TopKPerKey.perKey(pairs, Seq("id_a"),
        Seq(("d", true), ("id_b", true)), 2)
      val lnr = top2.groupBy($"id_a")
        .agg(count(lit(1)).as("cnt"), min($"d").as("d1"), max($"d").as("d2"))
        .filter($"cnt" === 2)
        .select(log($"d2".cast("double") / $"d1".cast("double")).as("lr"))
      lnr.agg(count(lit(1)).as("n_used"),
          sum($"lr".cast(DecimalType(18, 12))).cast("double").as("slr"))
        .select(lit(nSlice).as("n_slice"), $"n_used",
          round($"n_used".cast("double") / ($"slr" * 0.5), 6).as("id_twonn"))
    },
    Some {
      val qsc = graft.operators.FixedPointKMeans.QScale
      val qsh = graft.operators.FixedPointKMeans.QShift
      val sqDist = """list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(64), i -> (a.v[i+1]-b.v[i+1])*(a.v[i+1]-b.v[i+1]))),
        (acc, x) -> acc + x)"""
      s"""WITH ${recallSamplerSqlOn("embeddings")},
      $recallSliceCtes,
      sq AS (SELECT vec_id, list_transform(v,
          x -> CAST(FLOOR(x * $qsc + 0.5) AS BIGINT) + $qsh) AS v FROM sl),
      pr AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, $sqDist AS d
        FROM sq a JOIN sq b ON a.vec_id <> b.vec_id),
      t2 AS (SELECT id_a, d FROM (
          SELECT id_a, d, ROW_NUMBER() OVER (PARTITION BY id_a
            ORDER BY d, id_b) AS rn FROM pr WHERE d > 0) WHERE rn <= 2),
      m AS (SELECT id_a, COUNT(*) AS cnt, MIN(d) AS d1, MAX(d) AS d2
        FROM t2 GROUP BY id_a),
      u AS (SELECT LN(CAST(d2 AS DOUBLE) / CAST(d1 AS DOUBLE)) AS lr
        FROM m WHERE cnt = 2),
      ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slice FROM sl),
      ag AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
          CAST(SUM(CAST(lr AS DECIMAL(18,12))) AS DOUBLE) AS slr FROM u)
      SELECT ns.n_slice, ag.n_used,
        ROUND(CAST(ag.n_used AS DOUBLE) / (ag.slr * 0.5), 6) AS id_twonn
      FROM ns, ag"""
    }
  )

  /** IVF ANN top-20 with the ACTUAL probe rows under the hash gate:
    * the coarse quantizer is [[graft.operators.FixedPointKMeans]]
    * (shifted-integer Lloyd, deterministic init), so centroids, cell
    * assignment and the 2-probe cell choice are all engine-portable —
    * the oracle replays the full pipeline (KMeans rounds as unrolled
    * CTEs → integer-distance probe selection → double cosine over the
    * probed cells → top-20) and hash-matches the REAL IVF result,
    * recall_at_k column included (computed against the brute-force
    * top-20 in the same plan, q_ann_topk style). This is the strongest
    * form of the IVF claim: not a certificate about the result, the
    * result itself.
    *
    * Scale shape unchanged from IvfIndex: assignment is map-only
    * against a k×d literal; at 100 TB the table is written partitioned
    * by cell (IvfIndex.writeIndex — plan-asserted partition pruning)
    * and fit() runs over the same bounded collect discipline. */
  val qIvfTopK = GraftQuery(
    "q_ivf_topk",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val q = emb.orderBy($"vec_id").limit(1)
        .select($"embedding").collect()(0).getSeq[Double](0)
      val quant = graft.operators.Caches.register(
        emb.select($"vec_id", $"embedding",
          FixedPointKMeans.quantize($"embedding").as("v")))
      val cents = FixedPointKMeans.fit(quant, "vec_id", "v", k = 8, rounds = 2)
      val qv = FixedPointKMeans.quantizeLocal(q)
      val cells = cents.map { case (j, c) =>
          (j, FixedPointKMeans.sqDistLocal(qv, c)) }
        .sortBy { case (j, d) => (d, j) }.take(2).map(_._1)
      val ivf = FixedPointKMeans.assign(quant, "v", cents)
        .filter($"cluster".isin(cells: _*))
        .select($"vec_id",
          round(Similarity.cosineNative($"embedding", typedLit(q)), 6).as("cos_sim"))
        .orderBy($"cos_sim".desc, $"vec_id").limit(20)
      Similarity.withRecall(ivf,
          Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20), "vec_id", 20)
        .orderBy($"cos_sim".desc, $"vec_id")
    },
    Some {
      val cosine = """ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qd.qe) /
          (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           SQRT(list_dot_product(qd.qe, qd.qe))), 6)"""
      s"""WITH ${CorpusStatsQueries.kmeansOracleCtes(8, 2)},
      qd AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings ORDER BY vec_id LIMIT 1),
      qq AS (SELECT v FROM q ORDER BY vec_id LIMIT 1),
      cellsel AS (SELECT c.j FROM c2 c, qq
        ORDER BY ${CorpusStatsQueries.kmeansDistSql("qq.v", "c.c")}, c.j LIMIT 2),
      cand AS (SELECT vec_id FROM a3 WHERE j IN (SELECT j FROM cellsel)),
      ivf AS (SELECT e.vec_id, $cosine AS cos_sim
        FROM embeddings e JOIN cand USING (vec_id), qd
        ORDER BY cos_sim DESC, e.vec_id LIMIT 20),
      exact AS (SELECT e.vec_id FROM embeddings e, qd
        ORDER BY $cosine DESC, e.vec_id LIMIT 20),
      rec AS (SELECT ROUND(CAST(COUNT(*) AS DOUBLE) / 20, 6) AS recall_at_k
        FROM ivf JOIN exact USING (vec_id))
      SELECT ivf.vec_id, ivf.cos_sim, rec.recall_at_k
      FROM ivf, rec ORDER BY cos_sim DESC, vec_id"""
    }
  )

  /** Query-batch size for [[qIvfTopKMp]] — small enough that the
    * exact-recall certificate (a |batch|×N cosine sweep) stays cheap
    * at every gated scale factor, large enough that the per-query
    * probe/recall columns exercise more than one coarse geometry. */
  private val IvfMpQueries = 4

  /** IVF ANN with coarse TOP-2 MULTI-PROBE on the SEARCH path — the
    * recall-recovery rung measured for SemDeDup candidate generation
    * (q_semdedup_2l_mp: +2.6 pp over flat at 1.86× candidate mass,
    * BENCH_SF10_PROBE_MP.json) applied to retrieval, and the BATCH
    * form of q_ivf_topk: where that query picks ONE query vector's two
    * cells driver-side (a collect + sort over k centroids — fine for
    * one query, a driver loop for a million), here a whole query BATCH
    * picks its probe cells IN-PLAN through the fused top-2 kernel
    * ([[graft.operators.FixedPointKMeans.best2Of]] /
    * graft_kmeans_assign2 — one extra compare per candidate over the
    * single-probe sweep), so the same plan serves any batch size: no
    * driver-side distance math anywhere on the search path. The
    * INDEX is untouched — each corpus vector keeps its single primary
    * cell (the inverted file; at 100 TB the cell-partitioned
    * [[graft.operators.IvfIndex.writeIndex]] layout, where each probe
    * is a pruned directory scan) — multi-probe is query-side expansion
    * only, so candidate mass is the two probed cells' combined
    * occupancy: ≈2× the mean cell size in expectation (a skewed
    * runner-up cell can push a single query past 2× its OWN primary —
    * 115 vs 53 at sf0.01), and the n_cand_p1/n_cand_p2 columns carry
    * the ACTUAL per-query masses under the hash gate. Per query: exact cosine re-rank over the union of
    * both cells' members, top-20, plus recall-vs-exact for BOTH probe
    * depths (recall_p2_ppm ≥ recall_p1_ppm — the nprobe=2 recovery,
    * in-result rather than in a side report). The oracle replays the
    * full pipeline: integer Lloyd CTEs, the rk ≤ 2 probe as a
    * row_number over integer distance (exactly the kernel's two-slot
    * strict-< tie-break), the cell-membership candidate join, the
    * rounded-cosine re-rank, and the brute-force certificate. */
  val qIvfTopKMp = GraftQuery(
    "q_ivf_topk_mp",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      val emb = Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val quant = Caches.register(
        emb.select($"vec_id", $"embedding",
          FixedPointKMeans.quantize($"embedding").as("v")))
      val cents = FixedPointKMeans.fit(quant, "vec_id", "v", k = 8, rounds = 2)
      // the inverted file: single-cell assignment, untouched by the probe
      val asg = Caches.register(FixedPointKMeans.assign(quant, "v", cents)
        .select($"vec_id", $"embedding", $"cluster"))
      // the query batch picks its two probe cells in-plan (fused kernel)
      val qs = quant.orderBy($"vec_id").limit(IvfMpQueries)
        .withColumn("b2", FixedPointKMeans.best2Of($"v", cents))
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          $"b2.j".as("c1"), $"b2.j2".as("c2"))
      val probes = qs.select($"qid", $"qe",
          explode(array(
            struct($"c1".as("cell"), lit(1).as("pk")),
            struct($"c2".as("cell"), lit(2).as("pk")))).as("pr"))
        .select($"qid", $"qe", $"pr.cell".as("cluster"), $"pr.pk".as("pk"))
        .filter($"cluster" =!= -1)
      // candidates: one map-side broadcast join corpus-cell → probe-cell;
      // (qid, vec_id) is unique by construction (cells are disjoint and
      // the two probe cells differ), so no dedup pass is needed
      val cand = Caches.register(asg.join(broadcast(probes), Seq("cluster"))
        .select($"qid", $"pk", $"vec_id",
          round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim")))
      val top2 = graft.plans.TopKPerKey.perKey(
        cand.select($"qid", $"vec_id", $"cos_sim"),
        Seq("qid"), Seq(("cos_sim", false), ("vec_id", true)), 20)
      val top1 = graft.plans.TopKPerKey.perKey(
        cand.filter($"pk" === 1).select($"qid", $"vec_id", $"cos_sim"),
        Seq("qid"), Seq(("cos_sim", false), ("vec_id", true)), 20)
      // the exact certificate: |batch|×N cosines, bounded-heap top-20
      val exact = Caches.register(graft.plans.TopKPerKey.perKey(
        emb.crossJoin(broadcast(qs.select($"qid", $"qe")))
          .select($"qid", $"vec_id",
            round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim")),
        Seq("qid"), Seq(("cos_sim", false), ("vec_id", true)), 20)
        .select($"qid", $"vec_id"))
      val counts = cand.groupBy($"qid").agg(
        sum(when($"pk" === 1, 1L).otherwise(0L)).as("n_cand_p1"),
        count(lit(1)).as("n_cand_p2"))
      val h1 = top1.join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("h1"))
      val h2 = top2.join(exact, Seq("qid", "vec_id"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("h2"))
      top2.join(broadcast(counts), Seq("qid"))
        .join(broadcast(h1), Seq("qid"), "left")
        .join(broadcast(h2), Seq("qid"), "left")
        .select($"qid", $"vec_id", $"cos_sim", $"n_cand_p1", $"n_cand_p2",
          expr("CAST(coalesce(h1, 0) * 1000000 DIV 20 AS BIGINT)")
            .as("recall_p1_ppm"),
          expr("CAST(coalesce(h2, 0) * 1000000 DIV 20 AS BIGINT)")
            .as("recall_p2_ppm"))
        .orderBy($"qid", $"cos_sim".desc, $"vec_id")
    },
    Some {
      val cos = """ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv.qe) /
          (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           SQRT(list_dot_product(qv.qe, qv.qe))), 6)"""
      s"""WITH ${CorpusStatsQueries.kmeansOracleCtes(8, 2)},
      qs AS (SELECT vec_id AS qid, v FROM q ORDER BY vec_id LIMIT $IvfMpQueries),
      qe AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings ORDER BY vec_id LIMIT $IvfMpQueries),
      probe AS (SELECT qid, j, rk FROM (
          SELECT qs.qid, c.j,
            ROW_NUMBER() OVER (PARTITION BY qs.qid
              ORDER BY ${CorpusStatsQueries.kmeansDistSql("qs.v", "c.c")}, c.j) AS rk
          FROM qs, c2 c) WHERE rk <= 2),
      cand AS (SELECT p.qid, a.vec_id, p.rk FROM a3 a JOIN probe p ON a.j = p.j),
      cs AS (SELECT c.qid, c.vec_id, c.rk, $cos AS cos_sim
        FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
          JOIN qe qv ON qv.qid = c.qid),
      top2 AS (SELECT qid, vec_id, cos_sim FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cos_sim DESC, vec_id) AS rn FROM cs) WHERE rn <= 20),
      top1 AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY cos_sim DESC, vec_id) AS rn FROM cs WHERE rk = 1)
        WHERE rn <= 20),
      exact AS (SELECT qid, vec_id FROM (
          SELECT qv.qid, e.vec_id,
            ROW_NUMBER() OVER (PARTITION BY qv.qid
              ORDER BY $cos DESC, e.vec_id) AS rn
          FROM embeddings e, qe qv) WHERE rn <= 20),
      counts AS (SELECT qid,
          CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cand_p1,
          CAST(COUNT(*) AS BIGINT) AS n_cand_p2
        FROM cand GROUP BY qid),
      h1 AS (SELECT t.qid, COUNT(*) AS h FROM top1 t
        JOIN exact x ON x.qid = t.qid AND x.vec_id = t.vec_id GROUP BY t.qid),
      h2 AS (SELECT t.qid, COUNT(*) AS h FROM top2 t
        JOIN exact x ON x.qid = t.qid AND x.vec_id = t.vec_id GROUP BY t.qid)
      SELECT t.qid, t.vec_id, t.cos_sim, c.n_cand_p1, c.n_cand_p2,
        CAST(COALESCE(h1.h, 0) * 1000000 // 20 AS BIGINT) AS recall_p1_ppm,
        CAST(COALESCE(h2.h, 0) * 1000000 // 20 AS BIGINT) AS recall_p2_ppm
      FROM top2 t JOIN counts c ON c.qid = t.qid
        LEFT JOIN h1 ON h1.qid = t.qid LEFT JOIN h2 ON h2.qid = t.qid
      ORDER BY t.qid, t.cos_sim DESC, t.vec_id"""
    }
  )

  /** Probe depths for [[qIvfProbeSweep]] — 1, 2 and 4 of the 8 coarse
    * cells, the doubling ladder an nprobe tuning pass walks. */
  private val IvfSweepProbes = Seq(1, 2, 4)

  /** The IVF NPROBE curve — the retrieval knob measured the way
    * q_semdedup_sweep measures the dedup τ: recall@20 and candidate
    * mass at nprobe ∈ {1, 2, 4}, ALL from ONE cosine surface. The
    * expensive work — cell assignment of the corpus and the exact
    * cosine over the DEEPEST probe's candidates — happens once; each
    * shallower depth is a filter (probe rank ≤ p) over the cached
    * surface plus a bounded heap, so the three-point curve costs
    * barely more than the single deepest search. Probe ranking runs
    * in-plan (each query's integer distance to every coarse centroid,
    * row_number over (distance, cell) — the same total order the
    * fused top-2 kernel implements, extended past two slots), so the
    * whole sweep is driver-math-free like q_ivf_topk_mp. Per (nprobe,
    * query): actual candidate count and recall vs the brute-force
    * exact top-20, under the hash gate. At the toy k = 8 the deepest
    * probe touches half the cells; at the production k ∝ √N the same
    * ladder reads 4/√N of the corpus — the curve's shape, not its
    * absolute mass, is what transfers. The oracle replays Lloyd, the
    * rk ≤ 4 probe, the shared cosine surface and every depth's
    * top-20/count/recall. */
  val qIvfProbeSweep = GraftQuery(
    "q_ivf_probe_sweep",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, FixedPointKMeans}
      def dotl(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        call_function("graft_dot_long", a, b)
      val emb = Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val quant = Caches.register(emb.select($"vec_id", $"embedding",
        FixedPointKMeans.quantize($"embedding").as("v")))
      val cents = FixedPointKMeans.fit(quant, "vec_id", "v", k = 8, rounds = 2)
      val asg = Caches.register(FixedPointKMeans.assign(quant, "v", cents)
        .select($"vec_id", $"embedding", $"cluster"))
      val qs = Caches.register(quant.orderBy($"vec_id").limit(IvfMpQueries)
        .select($"vec_id".as("qid"), $"embedding".as("qe"), $"v".as("qv")))
      // every (query, cell) distance in-plan: batch × k rows, fused dots
      val centRel = s.createDataFrame(cents).toDF("cell", "cv")
      val ranked = qs.crossJoin(broadcast(centRel))
        .select($"qid", $"cell",
          (dotl($"qv", $"qv") + dotl($"cv", $"cv") -
            lit(2L) * dotl($"qv", $"cv")).as("d"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"qid").orderBy($"d", $"cell")))
        .filter($"rk" <= IvfSweepProbes.max)
        .select($"qid", $"cell".as("cluster"), $"rk")
      // ONE cosine surface over the deepest probe's candidates
      val cand = Caches.register(asg.join(broadcast(ranked), Seq("cluster"))
        .join(broadcast(qs.select($"qid", $"qe")), Seq("qid"))
        .select($"qid", $"rk", $"vec_id",
          round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim")))
      val exact = Caches.register(graft.plans.TopKPerKey.perKey(
        emb.crossJoin(broadcast(qs.select($"qid", $"qe")))
          .select($"qid", $"vec_id",
            round(Similarity.cosineNative($"embedding", $"qe"), 6).as("cos_sim")),
        Seq("qid"), Seq(("cos_sim", false), ("vec_id", true)), 20)
        .select($"qid", $"vec_id"))
      IvfSweepProbes.map { p =>
        val top = graft.plans.TopKPerKey.perKey(
          cand.filter($"rk" <= p).select($"qid", $"vec_id", $"cos_sim"),
          Seq("qid"), Seq(("cos_sim", false), ("vec_id", true)), 20)
        val n = cand.filter($"rk" <= p)
          .groupBy($"qid").agg(count(lit(1)).as("n_cand"))
        val h = top.join(broadcast(exact), Seq("qid", "vec_id"), "left_semi")
          .groupBy($"qid").agg(count(lit(1)).as("h"))
        n.join(broadcast(h), Seq("qid"), "left")
          .select(lit(p.toLong).as("nprobe"), $"qid", $"n_cand",
            expr("CAST(coalesce(h, 0) * 1000000 DIV 20 AS BIGINT)")
              .as("recall_ppm"))
      }.reduce(_ unionAll _)
        .orderBy($"nprobe", $"qid")
    },
    Some {
      val cos = """ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qv.qe) /
          (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           SQRT(list_dot_product(qv.qe, qv.qe))), 6)"""
      val depths = IvfSweepProbes.map { p =>
        s"""top$p AS (SELECT qid, vec_id FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (PARTITION BY qid
              ORDER BY cos_sim DESC, vec_id) AS rn FROM cs WHERE rk <= $p)
          WHERE rn <= 20),
        n$p AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_cand
          FROM cand WHERE rk <= $p GROUP BY qid),
        h$p AS (SELECT t.qid, COUNT(*) AS h FROM top$p t
          JOIN exact x ON x.qid = t.qid AND x.vec_id = t.vec_id GROUP BY t.qid),
        r$p AS (SELECT CAST($p AS BIGINT) AS nprobe, n.qid, n.n_cand,
            CAST(COALESCE(h.h, 0) * 1000000 // 20 AS BIGINT) AS recall_ppm
          FROM n$p n LEFT JOIN h$p h ON h.qid = n.qid)"""
      }.mkString(",\n")
      val unions = IvfSweepProbes.map(p => s"SELECT * FROM r$p")
        .mkString(" UNION ALL ")
      s"""WITH ${CorpusStatsQueries.kmeansOracleCtes(8, 2)},
      qsel AS (SELECT vec_id AS qid, v FROM q ORDER BY vec_id LIMIT $IvfMpQueries),
      qe AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe
        FROM embeddings ORDER BY vec_id LIMIT $IvfMpQueries),
      probe AS (SELECT qid, j, rk FROM (
          SELECT qs.qid, c.j,
            ROW_NUMBER() OVER (PARTITION BY qs.qid
              ORDER BY ${CorpusStatsQueries.kmeansDistSql("qs.v", "c.c")}, c.j) AS rk
          FROM qsel qs, c2 c) WHERE rk <= ${IvfSweepProbes.max}),
      cand AS (SELECT p.qid, p.rk, a.vec_id FROM a3 a JOIN probe p ON a.j = p.j),
      cs AS (SELECT c.qid, c.rk, c.vec_id, $cos AS cos_sim
        FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
          JOIN qe qv ON qv.qid = c.qid),
      exact AS (SELECT qid, vec_id FROM (
          SELECT qv.qid, e.vec_id,
            ROW_NUMBER() OVER (PARTITION BY qv.qid
              ORDER BY $cos DESC, e.vec_id) AS rn
          FROM embeddings e, qe qv) WHERE rn <= 20),
      $depths
      SELECT * FROM ($unions) ORDER BY nprobe, qid"""
    }
  )

  /** HLL sketch REUSE across grains — the warehouse pattern that makes
    * sketch columns worth persisting: per-type DataSketches HLL sketches
    * of the user set are built ONCE, then the corpus-level distinct
    * estimate comes from MERGING those sketches (hll_union_agg), never
    * from rescanning the events — exactly how a 100 TB deployment rolls
    * daily sketch partitions into monthly uniques. The sketch estimate
    * itself is engine-specific, so the HASH-ORACLED surface is the
    * portable part: the exact count per grain plus an `in_bound` flag
    * derived IN-PLAN from the estimate (|approx−exact|/exact ≤ 10%, the
    * 2-sigma envelope of the default sketch accuracy) — the oracle emits
    * literal TRUE, so a sketch that ever drifts out of contract flips
    * the flag and FAILS the hash gate. The ALL row's flag certifies the
    * merge path specifically. Raw estimates stay spec-asserted
    * (CorpusReportsSpec). */
  val qHllRollup = GraftQuery(
    "q_hll_rollup",
    (s, dir) => {
      import s.implicits._
      val ev = Tables.events(s, dir)
      val sk = graft.operators.Caches.register(
        ev.groupBy($"event_type")
          .agg(hll_sketch_agg($"user_id").as("sk"),
            countDistinct($"user_id").as("exact_users")))
      val per = sk.select($"event_type",
        hll_sketch_estimate($"sk").as("approx_users"), $"exact_users")
      val allExact = ev.agg(countDistinct($"user_id").as("exact_users"))
      val all = sk.agg(hll_sketch_estimate(hll_union_agg($"sk")).as("approx_users"))
        .crossJoin(broadcast(allExact))
        .select(lit("ALL").as("event_type"), $"approx_users", $"exact_users")
      per.unionByName(all)
        .select($"event_type", $"exact_users",
          (abs($"approx_users" - $"exact_users").cast("double") / $"exact_users"
            <= 0.10).as("in_bound"))
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS in_bound
      FROM events GROUP BY 1
      UNION ALL
      SELECT 'ALL' AS event_type, COUNT(DISTINCT user_id) AS exact_users, TRUE AS in_bound
      FROM events
      ORDER BY event_type""")
  )

  /** A2 at scale: approximate distinct (HLL++) alongside the exact KPIs.
    * The estimate is engine-specific, so the HASH-ORACLED surface is the
    * portable part: exact counts plus in-plan `*_in_bound` flags
    * (|approx−exact|/exact ≤ 10% — twice the default 5% rsd). The oracle
    * emits literal TRUE: an out-of-contract sketch flips the flag and
    * fails the hash gate, turning the rows check into a real quality
    * gate. At 100 TB you would drop the exact columns — they are the
    * certificate, not the product. */
  val qApproxDistinct = GraftQuery(
    "q_approx_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir).agg(
          approx_count_distinct($"user_id").as("approx_users"),
          approx_count_distinct($"event_id").as("approx_events"),
          countDistinct($"user_id").as("exact_users"),
          countDistinct($"event_id").as("exact_events"))
        .select($"exact_users", $"exact_events",
          (abs($"approx_users" - $"exact_users").cast("double") / $"exact_users"
            <= 0.10).as("users_in_bound"),
          (abs($"approx_events" - $"exact_events").cast("double") / $"exact_events"
            <= 0.10).as("events_in_bound"))
    },
    Some("""SELECT COUNT(DISTINCT user_id) AS exact_users,
      COUNT(DISTINCT event_id) AS exact_events,
      TRUE AS users_in_bound, TRUE AS events_in_bound
      FROM events""")
  )

  /** SELF-CERTIFYING approximate quantiles: percentile_approx's
    * GK-sketch estimates next to the exact quantiles (one fused
    * ExactQuantiles sort for all three points) IN THE SAME PLAN. The
    * sketch answer is engine-specific, so the HASH-ORACLED surface is
    * the portable part: exact quantiles (QUANTILE_CONT-replayable, the
    * q_quantiles precedent) plus in-plan `*_in_bound` flags
    * (|approx−exact|/|exact| ≤ 5%, generous for the 1/1000 rank-error
    * parameter). The oracle emits literal TRUE — a sketch drifting out
    * of contract fails the hash gate. At 100 TB the approx path is the
    * one to run: bounded sketch state merges map-side vs the exact
    * aggregate's full value buffer. */
  val qApproxQuantiles = GraftQuery(
    "q_approx_quantiles",
    (s, dir) => {
      import s.implicits._
      def relErr(i: Int) =
        abs(element_at($"approx", i) - element_at($"exact", i)) /
          greatest(abs(element_at($"exact", i)), lit(1e-9))
      Tables.events(s, dir)
        .agg(
          percentile_approx($"value", typedLit(Seq(0.5, 0.9, 0.99)), lit(1000))
            .as("approx"),
          graft.expressions.ExactQuantiles.quantiles(
            $"value", Seq(0.5, 0.9, 0.99)).as("exact"))
        .select(
          round(element_at($"exact", 1), 6).as("exact_p50"),
          round(element_at($"exact", 2), 6).as("exact_p90"),
          round(element_at($"exact", 3), 6).as("exact_p99"),
          (relErr(1) <= 0.05).as("p50_in_bound"),
          (relErr(2) <= 0.05).as("p90_in_bound"),
          (relErr(3) <= 0.05).as("p99_in_bound"))
    },
    Some("""SELECT ROUND(QUANTILE_CONT(value, 0.5), 6) AS exact_p50,
      ROUND(QUANTILE_CONT(value, 0.9), 6) AS exact_p90,
      ROUND(QUANTILE_CONT(value, 0.99), 6) AS exact_p99,
      TRUE AS p50_in_bound, TRUE AS p90_in_bound, TRUE AS p99_in_bound
      FROM events""")
  )

  /** First-iteration BPE merge candidates — the vocabulary-induction
    * primitive: the most frequent ADJACENT CHARACTER pairs, weighted by
    * corpus token frequency. The pair counting runs over the DISTINCT
    * vocabulary (the classic BPE trick — a corpus of billions of tokens
    * folds to a vocab of ~10⁵ types first), so the explode fans out per
    * TYPE, not per occurrence: one vocab-sized rollup shuffle, then a
    * pair rollup over ≤ 36² keys. Single-char tokens carry no pair and
    * are filtered before the explode. */
  val qBpeMerges = GraftQuery(
    "q_bpe_merges",
    (s, dir) => {
      import s.implicits._
      val vocab = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("freq"))
        .filter(length($"token") >= 2)
      vocab
        .select($"freq", explode(expr(
          "transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))"))
          .as("pair"))
        .groupBy($"pair")
        .agg(sum($"freq").as("weighted_count"), count(lit(1)).as("n_positions"))
        .orderBy($"weighted_count".desc, $"pair")
        .limit(20)
    },
    Some("""WITH tok AS (SELECT UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        FROM documents),
      vocab AS (SELECT token, COUNT(*) AS freq FROM tok
        GROUP BY token HAVING LENGTH(token) >= 2),
      pairs AS (SELECT freq, UNNEST(list_transform(range(length(token) - 1),
          i -> token[i+1:i+2])) AS pair
        FROM vocab)
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS weighted_count,
        COUNT(*) AS n_positions
      FROM pairs GROUP BY pair
      ORDER BY weighted_count DESC, pair LIMIT 20""")
  )

  /** Inverted-index build (term → postings): per-term document
    * frequency, total term frequency, and the head of the sorted
    * postings list — the IR-side counterpart of the dedup family's
    * shingle joins, and the layout a corpus-scale search/dedup service
    * actually persists. The per-(term, doc) rollup is the one
    * corpus-sized shuffle (partial-aggregated: raw token rows fold
    * map-side); the term rollup shuffles one row per (term, doc). At
    * scale the FULL postings write out partitioned by term shard; the
    * capped head here keeps the verifiable result bounded while the df
    * column still covers every posting. */
  val qInvertedIndex = GraftQuery(
    "q_inverted_index",
    (s, dir) => {
      import s.implicits._
      val perDoc = Tables.documents(s, dir)
        .select($"doc_id", explode(TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"token", $"doc_id").agg(count(lit(1)).as("tf"))
      perDoc.groupBy($"token")
        .agg(count(lit(1)).as("df"), sum($"tf").as("total_tf"),
          array_join(expr(
            "transform(slice(sort_array(collect_list(doc_id)), 1, 10), x -> CAST(x AS STRING))"),
            ",").as("postings_head"))
        .orderBy($"token")
    },
    Some("""WITH tok AS (SELECT doc_id, UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        FROM documents),
      pd AS (SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2)
      SELECT token, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings_head
      FROM pd GROUP BY token ORDER BY token""")
  )

  /** Dictionary encoding of a categorical column: the vocabulary gets
    * CONTIGUOUS integer codes (0..V-1) in lexicographic order via the
    * distributed enumeration of [[graft.operators.Ids]] — the feature-
    * encoding step that precedes embedding lookup tables, where code
    * gaps waste table rows. The stream side then broadcast-joins the
    * (tiny relative to the corpus) code table. Oracle = row_number over
    * the vocab, so contiguity AND order are hash-gated. */
  val qDictEncode = GraftQuery(
    "q_dict_encode",
    (s, dir) => {
      import s.implicits._
      val vocab = Tables.documents(s, dir)
        .select(explode(TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
      graft.operators.Ids.contiguousRowIds(vocab, Seq($"token"),
          idName = "code", numPartitions = 4)
        .select($"code", $"token", $"n")
        .orderBy($"code")
    },
    Some("""WITH tok AS (SELECT UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        FROM documents),
      v AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
      SELECT CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS code, token, n
      FROM v ORDER BY code""")
  )

  /** TRUE sequential BPE learning, 10 rounds (q_bpe_merges is round
    * one's candidate table; this runs the actual algorithm — each merge
    * changes what the next round counts). The oracle replays all ten
    * rounds in SQL: stage CTEs generated mechanically, one (count →
    * argmax → sentinel-space replace) block per round, so the ENTIRE
    * merge sequence — tie-breaks, overlap resolution, boundary safety —
    * is under the hash gate. COALESCE to a never-matching needle keeps
    * an exhausted stage from poisoning later ones with a NULL replace. */
  private val BpeRounds = 10

  /** The learn prologue + per-round stage CTEs, shared by q_bpe_learn
    * and q_bpe_encode. MATERIALIZED is load-bearing: m_i and v_i both
    * reference v_{i-1}, so inlined CTEs would expand 2^rounds scans. */
  private val bpeLearnSql: String = {
    val stages = (1 to BpeRounds).map { i =>
      s"""m$i AS MATERIALIZED (SELECT pair, REPLACE(pair, ' ', '') AS merged, c FROM (
        SELECT pair, SUM(n) AS c FROM (
          SELECT UNNEST(list_transform(range(len(s) - 1), j -> s[j+1] || ' ' || s[j+2])) AS pair, n
          FROM (SELECT string_split(trim(sym), ' ') AS s, n FROM v${i - 1}))
        GROUP BY pair ORDER BY c DESC, pair LIMIT 1)),
      v$i AS MATERIALIZED (SELECT REPLACE(sym,
          ' ' || COALESCE((SELECT pair FROM m$i), '~~') || ' ',
          ' ' || COALESCE((SELECT merged FROM m$i), '~~') || ' ') AS sym, n
        FROM v${i - 1})"""
    }.mkString(",\n      ")
    s"""tok AS (SELECT UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        FROM documents),
      w AS (SELECT token, COUNT(*) AS n FROM tok
        GROUP BY token HAVING LENGTH(token) >= 2),
      v0 AS MATERIALIZED (SELECT ' ' || array_to_string(regexp_extract_all(token, '.'), ' ') || ' ' AS sym,
        CAST(n AS BIGINT) AS n FROM w),
      $stages"""
  }

  /** The 10-fold replace chain applying m1..m10 to a symbolized token,
    * as SQL — the oracle mirror of [[graft.operators.Bpe.applyMerges]]. */
  private val bpeEncodeExprSql: String =
    (1 to BpeRounds).foldLeft(
      "' ' || array_to_string(regexp_extract_all(token, '.'), ' ') || ' '") { (acc, i) =>
      s"""REPLACE($acc,
          ' ' || COALESCE((SELECT pair FROM m$i), '~~') || ' ',
          ' ' || COALESCE((SELECT merged FROM m$i), '~~') || ' ')"""
    }

  val qBpeLearn: GraftQuery = {
    val unions = (1 to BpeRounds).map(i =>
      s"SELECT $i AS rank, pair, merged, CAST(c AS BIGINT) AS n_pair FROM m$i")
      .mkString("\n      UNION ALL ")
    GraftQuery(
      "q_bpe_learn",
      (s, dir) => {
        import s.implicits._
        val vocab = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("freq"))
          .filter(length($"token") >= 2)
        graft.operators.Bpe.learnMerges(vocab, "token", "freq", BpeRounds)
          .orderBy($"rank")
      },
      Some(s"""WITH $bpeLearnSql
      SELECT * FROM ($unions) ORDER BY rank""")
    )
  }

  /** BPE ENCODE under the learned merges: the corpus token stream priced
    * in subword symbols — the number you budget a 100 TB training run
    * with. The distinct VOCABULARY is encoded once (map-side replace
    * chain, merges inlined as literals) and the per-token symbol counts
    * broadcast-join back to the stream; the rollup is per source. The
    * oracle re-learns the merges AND replays the encode chain in SQL, so
    * learn and apply are hash-gated END TO END. */
  val qBpeEncode = GraftQuery(
    "q_bpe_encode",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val tokSrc = graft.operators.Caches.register(
        docs.select($"source", explode(TextAnalysis.tokens($"text")).as("token")))
      val learnVocab = tokSrc.groupBy($"token").agg(count(lit(1)).as("freq"))
        .filter(length($"token") >= 2)
      val merges = graft.operators.Bpe
        .learnMerges(learnVocab, "token", "freq", BpeRounds)
        .orderBy($"rank").select($"pair", $"merged")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val enc = tokSrc.select($"token").distinct()
        .withColumn("n_sym", size(split(trim(
          graft.operators.Bpe.applyMerges(
            graft.operators.Bpe.symbolize("token"), merges)), " ")))
      tokSrc.join(broadcast(enc), Seq("token"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"), sum($"n_sym").as("n_symbols"))
        .select($"source", $"n_tokens", $"n_symbols",
          round($"n_symbols".cast("double") / $"n_tokens", 6).as("symbols_per_token"))
        .orderBy($"source")
    },
    Some(s"""WITH $bpeLearnSql,
      ts AS (SELECT source, UNNEST(list_filter(
          string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
        FROM documents),
      ev AS MATERIALIZED (SELECT token,
          len(string_split(trim($bpeEncodeExprSql), ' ')) AS n_sym
        FROM (SELECT DISTINCT token FROM ts))
      SELECT source, COUNT(*) AS n_tokens, CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
        ROUND(CAST(SUM(n_sym) AS DOUBLE) / COUNT(*), 6) AS symbols_per_token
      FROM ts JOIN ev USING (token)
      GROUP BY source ORDER BY source""")
  )

  /** WordPiece multi-char piece budget + max piece length, shared by
    * the Spark learn/encode path and the oracle's mirror. */
  private val WpTopK = 48
  private val WpMaxLen = 6

  /** WordPiece tokenization (Wu et al. 2016 — BERT's encoder): greedy
    * longest-match-first segmentation against a two-class substring
    * vocab (word-initial vs `##`-continuation), the second major
    * subword family next to the BPE trio. The vocab is the corpus's
    * own substring statistics (top-[[WpTopK]] weighted substrings of
    * length 2..[[WpMaxLen]] per position class + every corpus char in
    * both classes for totality — see
    * [[graft.operators.WordPiece.learnVocab]]); the oracle replays
    * BOTH the vocab construction and the greedy walk itself (a
    * recursive CTE stepping (pos, class) with a correlated
    * longest-match lookup), so every emitted piece count is under the
    * hash gate. Output: top-40 piece counts + corpus totals and the
    * fertility (pieces per word, ppm — the tokenizer-quality headline).
    * Scale: learn is a vocabulary-sized substring rollup; encode is
    * the BPE pattern (native kernel over DISTINCT words, weighted by
    * frequency) — corpus size only enters through the one token
    * rollup. */
  val qWordpieceEncode = GraftQuery(
    "q_wordpiece_encode",
    (s, dir) => {
      import s.implicits._
      val w = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n")))
      val vocab = graft.operators.WordPiece.learnVocab(
        w, "token", "n", topK = WpTopK, maxLen = WpMaxLen)
      val enc = graft.operators.Caches.register(w.select($"token", $"n",
        graft.operators.WordPiece.encode($"token", vocab).as("pieces")))
      val tot = enc.agg(sum($"n").cast("long").as("total_words"),
        sum(size($"pieces").cast("long") * $"n").cast("long").as("total_pieces"))
      enc.select(explode($"pieces").as("piece"), $"n")
        .groupBy($"piece").agg(sum($"n").cast("long").as("n"))
        .crossJoin(tot)
        .withColumn("fertility_ppm",
          expr("CAST(total_pieces * 1000000 div total_words AS BIGINT)"))
        .orderBy($"n".desc, $"piece").limit(40)
    },
    Some(s"""WITH RECURSIVE
      tok AS (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
      w AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
      subs AS (SELECT UNNEST(flatten(list_transform(range(1, length(token)+1), i ->
          list_transform(range(2, ${WpMaxLen + 1}), l -> CASE WHEN i + l - 1 <= length(token) THEN
            CASE WHEN i = 1 THEN substr(token, i, l) ELSE '##' || substr(token, i, l) END
            ELSE NULL END)))) AS display, n
        FROM w),
      vmulti AS (SELECT display FROM (
        SELECT display, SUM(n) AS c FROM subs WHERE display IS NOT NULL
        GROUP BY display ORDER BY c DESC, display LIMIT $WpTopK)),
      vsingle AS (
        SELECT DISTINCT substr(token, 1, 1) AS display FROM w
        UNION
        SELECT DISTINCT UNNEST(list_transform(range(2, length(token)+1),
          i -> '##' || substr(token, i, 1))) AS display FROM w),
      vplain AS (SELECT DISTINCT
          NOT starts_with(display, '##') AS is_start,
          CASE WHEN starts_with(display, '##') THEN substr(display, 3) ELSE display END AS p
        FROM (SELECT display FROM vmulti UNION SELECT display FROM vsingle)),
      r AS (
        SELECT token, n, 1 AS pos, TRUE AS is_start, CAST([] AS VARCHAR[]) AS pieces FROM w
        UNION ALL
        SELECT token, n, pos + length(mp), FALSE,
          list_append(pieces, CASE WHEN is_start THEN mp ELSE '##' || mp END)
        FROM (
          SELECT token, n, pos, is_start, pieces,
            (SELECT v.p FROM vplain v
              WHERE v.is_start = r.is_start
                AND v.p = substr(r.token, r.pos, length(v.p))
              ORDER BY length(v.p) DESC, v.p LIMIT 1) AS mp
          FROM r WHERE pos <= length(token))
        WHERE mp IS NOT NULL),
      fin AS (SELECT token, n, pieces FROM r WHERE pos > length(token)),
      pc AS (SELECT UNNEST(pieces) AS piece, n FROM fin),
      counts AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS n FROM pc GROUP BY piece),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_words,
        CAST(SUM(len(pieces) * n) AS BIGINT) AS total_pieces FROM fin)
      SELECT piece, counts.n, tot.total_words, tot.total_pieces,
        CAST(tot.total_pieces * 1000000 // tot.total_words AS BIGINT) AS fertility_ppm
      FROM counts, tot ORDER BY counts.n DESC, piece LIMIT 40""")
  )

  /** The soft-EM expectation replay as DuckDB CTEs, SUFFIXED so one
    * query can run the DP more than once (the EM round replays
    * expectation against the seed vocab AND against the pruned/refit
    * vocab): from the (p, score) vocab relation `vCte`, replays
    * [[graft.operators.UnigramLm.logCosts]] (one double division + ln
    * per piece, identical rounding in both engines) and the integer
    * fixed-point forward–backward of
    * [[graft.expressions.UnigramExpect]] via recursive CTEs — per-cell
    * rounding does not distribute over path enumeration, so the DP
    * ITSELF is what must replay. Needs `w(token, n)` in scope; emits
    * `soft$sfx(p, soft_mc BIGINT)` (the HUGEINT→BIGINT cast throws on
    * overflow, the loudness [[graft.operators.UnigramLm.softCounts]]
    * mirrors).
    *
    * `soft$sfx` is AS MATERIALIZED and the vocab is snapshotted into a
    * materialized `vm$sfx`: DuckDB re-EVALUATES a multi-referenced
    * plain CTE, and this generator references its vocab twice (tot +
    * vc) — so a CHAIN of expectation rounds (each vocab pruned from
    * the previous soft counts) re-ran earlier DPs multiplicatively:
    * q_unigram_em3's three chained rounds measured 18.5 min before the
    * pin, ~1 min after. Materializing costs nothing (both relations
    * are vocab-sized) and changes no results. */
  private def unigramSoftSql(sfx: String, vCte: String): String = {
    val LS = graft.expressions.UnigramExpect.LogScale
    val WS = graft.expressions.UnigramExpect.WScale
    def lse(xs: String) =
      s"""list_min($xs) - CAST(FLOOR($LS * ln(
          list_reduce(list_prepend(CAST(0 AS DOUBLE),
            list_transform($xs, x -> exp(CAST(list_min($xs) - x AS DOUBLE) / $LS))),
          (a, b) -> a + b)) + 0.5) AS BIGINT)"""
    s"""vm$sfx AS MATERIALIZED (SELECT p, score FROM $vCte),
      tot$sfx AS (SELECT CAST(SUM(score) AS BIGINT) AS total FROM vm$sfx),
      vc$sfx AS (SELECT v.p, v.score, CAST(FLOOR($LS * ln(
          CAST(t.total AS DOUBLE) / CAST(GREATEST(v.score, 1) AS DOUBLE)) + 0.5) AS BIGINT) AS cost
        FROM vm$sfx v, tot$sfx t),
      occv$sfx AS (SELECT w.token, w.n, t.t, l.l, vc.p, vc.cost
        FROM w, UNNEST(range(1, length(w.token)+1)) AS t(t),
             UNNEST(range(1, ${WpMaxLen + 1})) AS l(l)
        JOIN vc$sfx vc ON l.l <= t.t AND vc.p = substr(w.token, t.t - l.l + 1, l.l)),
      candf$sfx AS (SELECT token, t, list(STRUCT_PACK(l := l, c := cost) ORDER BY l) AS cs
        FROM occv$sfx GROUP BY token, t),
      candb$sfx AS (SELECT token, t - l AS u, list(STRUCT_PACK(l := l, c := cost) ORDER BY l) AS cs
        FROM occv$sfx GROUP BY token, t - l),
      fwd$sfx AS (
        SELECT token, n, 0 AS pos, [CAST(0 AS BIGINT)] AS al FROM w
        UNION ALL
        SELECT f.token, f.n, f.pos + 1,
          list_append(f.al, ${lse(s"list_transform(c.cs, s -> f.al[f.pos + 2 - s.l] + s.c)")})
        FROM fwd$sfx f JOIN candf$sfx c ON c.token = f.token AND c.t = f.pos + 1),
      fa$sfx AS (SELECT token, n, al FROM fwd$sfx WHERE pos = length(token)),
      bwd$sfx AS (
        SELECT token, length(token) AS pos, [CAST(0 AS BIGINT)] AS bl FROM w
        UNION ALL
        SELECT b.token, b.pos - 1,
          list_prepend(${lse(s"list_transform(c.cs, s -> s.c + b.bl[s.l])")}, b.bl)
        FROM bwd$sfx b JOIN candb$sfx c ON c.token = b.token AND c.u = b.pos - 1),
      bb$sfx AS (SELECT token, bl FROM bwd$sfx WHERE pos = 0),
      wx$sfx AS (SELECT o.token, o.n, o.p,
          CAST(FLOOR($WS * exp(CAST(fa.al[length(o.token) + 1] - fa.al[o.t - o.l + 1]
            - o.cost - bb.bl[o.t + 1] AS DOUBLE) / $LS) + 0.5) AS BIGINT) AS mc
        FROM occv$sfx o JOIN fa$sfx fa ON fa.token = o.token
          JOIN bb$sfx bb ON bb.token = o.token),
      soft$sfx AS MATERIALIZED (SELECT p, CAST(SUM(CAST(n AS HUGEINT) * mc) AS BIGINT) AS soft_mc
        FROM wx$sfx GROUP BY p)"""
  }

  /** The DuckDB mirror of one unigram segmentation round: brute-force
    * ENUMERATION of every segmentation of every distinct word under
    * vocab relation `vocabRel(p, score)`, then argmin under the exact
    * DP objective (fewest pieces, max Σ score, lexicographic piece
    * sequence) — certifying the kernel's DP optimality, not just
    * replaying it. Emits `seg{tag}` (the recursive walk) and
    * `best{tag}(token, n, pieces)`. */
  private def unigramRoundSql(tag: String, vocabRel: String): String =
    s"""seg$tag AS (
      SELECT token, n, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces, CAST(0 AS BIGINT) AS sc FROM w
      UNION ALL
      SELECT s.token, s.n, s.pos + length(v.p), list_append(s.pieces, v.p), s.sc + v.score
      FROM seg$tag s JOIN $vocabRel v ON v.p = substr(s.token, s.pos, length(v.p))
      WHERE s.pos <= length(s.token)),
    best$tag AS (SELECT token, n, pieces FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY token
        ORDER BY len(pieces), sc DESC, pieces) AS rk
      FROM seg$tag WHERE pos > length(token)) WHERE rk = 1)"""

  /** Unigram-style subword tokenizer (hard-EM shape of Kudo 2018's
    * unigram LM) — the THIRD subword family, completing the trio with
    * q_bpe_* (learn by merging) and q_wordpiece_encode (greedy fixed-
    * vocab): OPTIMAL DP segmentation under an integer objective
    * (fewest pieces, then max Σ score, then lexicographic — the
    * deterministic MDL stand-in for max-likelihood), then the EM step
    * that makes it unigram-LM: re-score pieces by USE, PRUNE unused
    * multi-char pieces, re-segment. The oracle does not merely replay
    * the DP — it brute-force ENUMERATES every segmentation of every
    * word (recursive CTE) and takes the argmin under the same total
    * order, so the kernel's optimality claim itself sits under the
    * hash gate, both rounds. Scale: everything after the token rollup
    * runs on the DISTINCT-word relation (the [[graft.operators.Bpe]]
    * pattern); driver state is topK + alphabet (piece, score) pairs
    * per round. */
  val qUnigramTokenizer = GraftQuery(
    "q_unigram_tokenizer",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, UnigramLm}
      val w = Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n")))
      val seed = UnigramLm.seedVocab(w, "token", "n", topK = WpTopK, maxLen = WpMaxLen)
      val chars = seed.pieces.filter(_.length == 1)
      val seg1 = w.select($"token", $"n",
        UnigramLm.segment($"token", seed).as("pieces"))
      val v2 = UnigramLm.refit(seg1, "n", "pieces", chars)
      val seg2 = Caches.register(w.select($"token", $"n",
        UnigramLm.segment($"token", v2).as("pieces")))
      val tot = seg2.agg(sum($"n").cast("long").as("total_words"),
        sum(size($"pieces").cast("long") * $"n").cast("long").as("total_pieces"))
      seg2.select(explode($"pieces").as("piece"), $"n")
        .groupBy($"piece").agg(sum($"n").cast("long").as("n"))
        .crossJoin(tot)
        .withColumn("n_vocab", lit(v2.pieces.length.toLong))
        .withColumn("fertility_ppm",
          expr("CAST(total_pieces * 1000000 div total_words AS BIGINT)"))
        .select($"piece", $"n", $"n_vocab", $"total_words", $"total_pieces",
          $"fertility_ppm")
        .orderBy($"n".desc, $"piece").limit(40)
    },
    Some(s"""WITH RECURSIVE
      tok AS (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
      w AS MATERIALIZED (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
      grid AS (SELECT UNNEST(flatten(list_transform(range(1, length(token)+1), i ->
          list_transform(range(1, ${WpMaxLen + 1}), l -> CASE WHEN i + l - 1 <= length(token)
            THEN substr(token, i, l) ELSE NULL END)))) AS p, n FROM w),
      gc AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM grid WHERE p IS NOT NULL GROUP BY p),
      v1 AS (
        SELECT p, c AS score FROM (SELECT p, c FROM gc WHERE length(p) >= 2
          ORDER BY c DESC, p LIMIT $WpTopK)
        UNION ALL
        SELECT p, c AS score FROM gc WHERE length(p) = 1),
      ${unigramRoundSql("1", "v1")},
      used AS (SELECT p, CAST(SUM(n) AS BIGINT) AS score FROM (
        SELECT UNNEST(pieces) AS p, n FROM best1) GROUP BY p),
      v2 AS (
        SELECT p, score FROM used
        UNION ALL
        SELECT gc.p, CAST(0 AS BIGINT) AS score FROM gc
        WHERE length(gc.p) = 1 AND gc.p NOT IN (SELECT p FROM used)),
      ${unigramRoundSql("2", "v2")},
      pc AS (SELECT UNNEST(pieces) AS piece, n FROM best2),
      counts AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS n FROM pc GROUP BY piece),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_words,
        CAST(SUM(len(pieces) * n) AS BIGINT) AS total_pieces FROM best2),
      nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab FROM v2)
      SELECT piece, counts.n, nv.n_vocab, tot.total_words, tot.total_pieces,
        CAST(tot.total_pieces * 1000000 // tot.total_words AS BIGINT) AS fertility_ppm
      FROM counts, tot, nv ORDER BY counts.n DESC, piece LIMIT 40""")
  )

  /** Unigram SOFT-EM — the production-SentencePiece expectation step
    * the hard-EM query documents as its one divergence, now closed:
    * per-piece EXPECTED use counts marginalized over ALL segmentations
    * (integer-fixed-point forward–backward,
    * [[graft.expressions.UnigramExpect]] — log-costs in 1e-4-nat
    * units, one rounded ln/exp cluster per DP cell, posterior weights
    * in micro-counts; every cross-engine quantity an integer), against
    * the Viterbi used-counts of the SAME seed vocab, with the
    * hard-vs-soft vocab diff carried in every row (in_soft/in_hard
    * flags + the corpus-level n_vocab_soft/n_vocab_hard/n_common).
    * The DuckDB oracle replays the DP ITSELF — recursive CTEs carry
    * the forward/backward integer arrays and fold the identical
    * candidate order — because per-cell rounding does not distribute
    * over path enumeration (a brute-force path replay would be a
    * DIFFERENT algorithm). Soft-vocab rule: expected count ≥ 1 full
    * use (soft_mc ≥ WScale) or a single character (totality); hard
    * rule: Viterbi-used or a single character — the diff rows are
    * exactly the pieces the Viterbi approximation over- or
    * under-commits to. Scale: the kernel is map-side over the
    * distinct-word relation with the vocab as literal children; one
    * piece-keyed partial-aggregated rollup — the other tokenizers'
    * shape. */
  val qUnigramSoftEm = GraftQuery(
    "q_unigram_soft_em",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, UnigramLm}
      val WScale = graft.expressions.UnigramExpect.WScale
      val w = Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n")))
      val seed = UnigramLm.seedVocab(w, "token", "n", topK = WpTopK, maxLen = WpMaxLen)
      val costs = UnigramLm.logCosts(seed)
      val soft = UnigramLm.softCounts(w, "token", "n", seed, costs)
      val hard = w.select($"token", $"n",
          UnigramLm.segment($"token", seed).as("pieces"))
        .select(explode($"pieces").as("p"), $"n")
        .groupBy($"p").agg(sum($"n").cast("long").as("hard_n"))
      val seedDf = seed.pieces.toDF("p")
      val j = seedDf
        .join(soft, Seq("p"), "left").join(hard, Seq("p"), "left")
        // softCounts rolls up in DECIMAL(38,0) (its scaladoc's 10 TB
        // bound). The long cast is exact for this query's corpora, but
        // Spark's non-ANSI decimal→long cast would WRAP/NULL past 2⁶³
        // where the oracle's CAST(… AS BIGINT) throws — so the guard
        // makes the engine equally loud at the boundary instead of
        // emitting a plausible 0
        .withColumn("soft_mc", coalesce(
          when($"soft_mc" > lit(Long.MaxValue),
            raise_error(lit("q_unigram_soft_em: soft_mc exceeds BIGINT — " +
              "corpus is past the documented micro-count envelope")).cast("long"))
            .otherwise($"soft_mc".cast("long")),
          lit(0L)))
        .withColumn("hard_n", coalesce($"hard_n", lit(0L)))
        .withColumn("in_soft",
          when($"soft_mc" >= WScale || length($"p") === 1, 1L).otherwise(0L))
        .withColumn("in_hard",
          when($"hard_n" > 0 || length($"p") === 1, 1L).otherwise(0L))
      val ns = j.agg(sum($"in_soft").as("n_vocab_soft"),
        sum($"in_hard").as("n_vocab_hard"),
        sum($"in_soft" * $"in_hard").as("n_common"))
      j.crossJoin(ns)
        .select($"p".as("piece"), $"soft_mc", $"hard_n", $"in_soft",
          $"in_hard", $"n_vocab_soft", $"n_vocab_hard", $"n_common")
        .orderBy($"soft_mc".desc, $"piece").limit(40)
    },
    Some({
      val WS = graft.expressions.UnigramExpect.WScale
      s"""WITH RECURSIVE
      tok AS (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
      w AS MATERIALIZED (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
      grid AS (SELECT UNNEST(flatten(list_transform(range(1, length(token)+1), i ->
          list_transform(range(1, ${WpMaxLen + 1}), l -> CASE WHEN i + l - 1 <= length(token)
            THEN substr(token, i, l) ELSE NULL END)))) AS p, n FROM w),
      gc AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM grid WHERE p IS NOT NULL GROUP BY p),
      v1 AS (
        SELECT p, c AS score FROM (SELECT p, c FROM gc WHERE length(p) >= 2
          ORDER BY c DESC, p LIMIT $WpTopK)
        UNION ALL
        SELECT p, c AS score FROM gc WHERE length(p) = 1),
      ${unigramSoftSql("", "v1")},
      ${unigramRoundSql("1", "v1")},
      hard AS (SELECT p, CAST(SUM(n) AS BIGINT) AS hard_n FROM (
        SELECT UNNEST(pieces) AS p, n FROM best1) GROUP BY p),
      j AS (SELECT v.p,
          COALESCE(s.soft_mc, 0) AS soft_mc, COALESCE(h.hard_n, 0) AS hard_n,
          CASE WHEN COALESCE(s.soft_mc, 0) >= $WS OR length(v.p) = 1
            THEN 1 ELSE 0 END AS in_soft,
          CASE WHEN COALESCE(h.hard_n, 0) > 0 OR length(v.p) = 1
            THEN 1 ELSE 0 END AS in_hard
        FROM v1 v LEFT JOIN soft s ON s.p = v.p LEFT JOIN hard h ON h.p = v.p),
      ns AS (SELECT CAST(SUM(in_soft) AS BIGINT) AS n_vocab_soft,
          CAST(SUM(in_hard) AS BIGINT) AS n_vocab_hard,
          CAST(SUM(in_soft * in_hard) AS BIGINT) AS n_common FROM j)
      SELECT j.p AS piece, j.soft_mc, j.hard_n,
        CAST(j.in_soft AS BIGINT) AS in_soft, CAST(j.in_hard AS BIGINT) AS in_hard,
        ns.n_vocab_soft, ns.n_vocab_hard, ns.n_common
      FROM j, ns ORDER BY j.soft_mc DESC, j.p LIMIT 40"""
    })
  )

  /** ONE FULL UNIGRAM EM ROUND — the prune→refit→re-expect loop that
    * closes the last gap to production SentencePiece semantics on top
    * of q_unigram_soft_em's exact E-step:
    *
    *  1. E-step 0: soft expected counts against the seed vocab
    *     ([[graft.operators.UnigramLm.softCounts]] — integer
    *     fixed-point forward–backward, micro-count posteriors);
    *  2. M-step + prune: multi-char pieces whose expectation falls
    *     under ONE full use (soft_mc < WScale) drop out; single chars
    *     stay (totality); survivors RE-SCORE by their expected counts
    *     — probabilities ∝ expectations, the SentencePiece M-step —
    *     and costs recompute from the new totals
    *     ([[graft.operators.UnigramLm.logCosts]] is scale-invariant up
    *     to the count floor, so micro-units feed it directly);
    *  3. E-step 1: re-expectation against the pruned/refit vocab.
    *
    * The vocab TRAJECTORY is carried in every row (n_vocab_seed →
    * n_vocab_r1 after the prune → n_vocab_r2 = what the NEXT prune
    * would keep), and each surviving piece shows its round-0 vs
    * round-1 expectations — the diff the EM literature predicts:
    * pruned-away alternatives hand their posterior mass to the
    * survivors, so soft_mc_r1 ≥ soft_mc_r0 in aggregate and the vocab
    * contracts toward a fixed point. The oracle replays BOTH
    * expectation passes via the suffixed recursive-CTE DP generator
    * ([[unigramSoftSql]]) with the prune/refit as plain relational
    * algebra between them. Scale: two kernel passes over the
    * DISTINCT-word relation + two vocab-sized rollups; driver state is
    * one (piece, count) map per round — the hard-EM loop's shape
    * exactly. */
  val qUnigramEmRound = GraftQuery(
    "q_unigram_em_round",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, UnigramLm}
      val WScale = graft.expressions.UnigramExpect.WScale
      val w = Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n")))
      val seed = UnigramLm.seedVocab(w, "token", "n", topK = WpTopK, maxLen = WpMaxLen)
      val costs0 = UnigramLm.logCosts(seed)
      // E-step 0 collected to the driver: the soft-count relation is
      // vocab-sized (topK + alphabet — the BPE-merge collect
      // discipline); longValueExact throws on overflow, the same
      // loudness as the oracle's HUGEINT→BIGINT cast
      val mc0 = UnigramLm.softCounts(w, "token", "n", seed, costs0)
        .collect().map(r => (r.getString(0),
          r.getDecimal(1).toBigInteger.longValueExact())).toMap
      val v1p = seed.pieces.filter(p =>
        p.length == 1 || mc0.getOrElse(p, 0L) >= WScale)
      val v1 = UnigramLm.Vocab(v1p, v1p.map(p => mc0.getOrElse(p, 0L)))
      val costs1 = UnigramLm.logCosts(v1)
      val soft1 = UnigramLm.softCounts(w, "token", "n", v1, costs1)
      val base = s.createDataFrame(v1.pieces.zip(v1.scores))
        .toDF("piece", "soft_mc_r0")
      val j = base
        .join(soft1.withColumnRenamed("p", "piece"), Seq("piece"), "left")
        .withColumn("soft_mc_r1", coalesce(
          when($"soft_mc" > lit(Long.MaxValue),
            raise_error(lit("q_unigram_em_round: soft_mc exceeds BIGINT — " +
              "corpus is past the documented micro-count envelope")).cast("long"))
            .otherwise($"soft_mc".cast("long")),
          lit(0L)))
        .withColumn("in_next",
          when($"soft_mc_r1" >= WScale || length($"piece") === 1, 1L)
            .otherwise(0L))
      val ns = j.agg(sum($"in_next").as("n_vocab_r2"))
      j.crossJoin(ns)
        .select($"piece", $"soft_mc_r0", $"soft_mc_r1", $"in_next",
          lit(seed.pieces.length.toLong).as("n_vocab_seed"),
          lit(v1.pieces.length.toLong).as("n_vocab_r1"),
          $"n_vocab_r2")
        .orderBy($"soft_mc_r1".desc, $"piece").limit(40)
    },
    Some({
      val WS = graft.expressions.UnigramExpect.WScale
      s"""WITH RECURSIVE
      tok AS (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
      w AS MATERIALIZED (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
      grid AS (SELECT UNNEST(flatten(list_transform(range(1, length(token)+1), i ->
          list_transform(range(1, ${WpMaxLen + 1}), l -> CASE WHEN i + l - 1 <= length(token)
            THEN substr(token, i, l) ELSE NULL END)))) AS p, n FROM w),
      gc AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM grid WHERE p IS NOT NULL GROUP BY p),
      v0 AS (
        SELECT p, c AS score FROM (SELECT p, c FROM gc WHERE length(p) >= 2
          ORDER BY c DESC, p LIMIT $WpTopK)
        UNION ALL
        SELECT p, c AS score FROM gc WHERE length(p) = 1),
      ${unigramSoftSql("0", "v0")},
      v2 AS (SELECT s.p, s.soft_mc AS score FROM soft0 s
        WHERE length(s.p) = 1 OR s.soft_mc >= $WS),
      ${unigramSoftSql("1", "v2")},
      j AS (SELECT v.p, v.score AS soft_mc_r0,
          COALESCE(s1.soft_mc, 0) AS soft_mc_r1,
          CASE WHEN COALESCE(s1.soft_mc, 0) >= $WS OR length(v.p) = 1
            THEN 1 ELSE 0 END AS in_next
        FROM v2 v LEFT JOIN soft1 s1 ON s1.p = v.p),
      ns AS (SELECT CAST(SUM(in_next) AS BIGINT) AS n_vocab_r2 FROM j),
      nv AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v0) AS n_vocab_seed,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM v2) AS n_vocab_r1)
      SELECT j.p AS piece, j.soft_mc_r0, j.soft_mc_r1,
        CAST(j.in_next AS BIGINT) AS in_next,
        nv.n_vocab_seed, nv.n_vocab_r1, ns.n_vocab_r2
      FROM j, ns, nv ORDER BY j.soft_mc_r1 DESC, j.p LIMIT 40"""
    })
  )

  /** THREE unigram EM rounds — the q_unigram_em_round loop continued
    * toward its fixed point, reported as a per-round TRAJECTORY (one
    * row per expectation round) instead of per-piece detail: n_vocab
    * expected against, how many pieces the round's prune then drops,
    * and the round's top piece by expected count (the mass
    * concentration the EM literature predicts as alternatives prune
    * away). `converged` says whether the LAST prune dropped nothing —
    * reported, not enforced: the round count is structurally fixed at
    * 3 in both engines because the oracle is static SQL (a
    * data-dependent round count cannot replay), which is exactly the
    * honest form of "train to convergence" under a replayable gate.
    * Scale: one kernel pass over the distinct-word relation per round;
    * driver state one vocab-sized (piece, count) map per round. */
  val qUnigramEm3 = GraftQuery(
    "q_unigram_em3",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, UnigramLm}
      val WScale = graft.expressions.UnigramExpect.WScale
      val w = Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n")))
      var v = UnigramLm.seedVocab(w, "token", "n", topK = WpTopK, maxLen = WpMaxLen)
      val rows = (0 until 3).map { r =>
        val costs = UnigramLm.logCosts(v)
        val mc = UnigramLm.softCounts(w, "token", "n", v, costs)
          .collect().map(row => (row.getString(0),
            row.getDecimal(1).toBigInteger.longValueExact())).toMap
        val score = (p: String) => mc.getOrElse(p, 0L)
        val kept = v.pieces.filter(p => p.length == 1 || score(p) >= WScale)
        val top = v.pieces.map(p => (p, score(p)))
          .minBy { case (p, m) => (-m, p) }
        val row = (r.toLong, v.pieces.length.toLong,
          (v.pieces.length - kept.length).toLong, top._1, top._2)
        v = UnigramLm.Vocab(kept, kept.map(score))
        row
      }
      val converged = if (rows.last._3 == 0L) 1L else 0L
      s.createDataFrame(rows)
        .toDF("round", "n_vocab", "n_pruned", "top_piece", "top_soft_mc")
        .withColumn("converged", lit(converged))
        .orderBy($"round")
    },
    Some({
      val WS = graft.expressions.UnigramExpect.WScale
      def prune(vNext: String, soft: String) =
        s"""$vNext AS (SELECT p, soft_mc AS score FROM $soft
            WHERE length(p) = 1 OR soft_mc >= $WS)"""
      def roundRow(r: Int) =
        s"""SELECT CAST($r AS BIGINT) AS round,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM v$r) AS n_vocab,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM v$r) -
              (SELECT CAST(COUNT(*) AS BIGINT) FROM v${r + 1}) AS n_pruned,
            (SELECT p FROM soft$r ORDER BY soft_mc DESC, p LIMIT 1) AS top_piece,
            (SELECT soft_mc FROM soft$r ORDER BY soft_mc DESC, p LIMIT 1) AS top_soft_mc"""
      s"""WITH RECURSIVE
      tok AS (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
      w AS MATERIALIZED (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
      grid AS (SELECT UNNEST(flatten(list_transform(range(1, length(token)+1), i ->
          list_transform(range(1, ${WpMaxLen + 1}), l -> CASE WHEN i + l - 1 <= length(token)
            THEN substr(token, i, l) ELSE NULL END)))) AS p, n FROM w),
      gc AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM grid WHERE p IS NOT NULL GROUP BY p),
      v0 AS (
        SELECT p, c AS score FROM (SELECT p, c FROM gc WHERE length(p) >= 2
          ORDER BY c DESC, p LIMIT $WpTopK)
        UNION ALL
        SELECT p, c AS score FROM gc WHERE length(p) = 1),
      ${unigramSoftSql("0", "v0")},
      ${prune("v1", "soft0")},
      ${unigramSoftSql("1", "v1")},
      ${prune("v2", "soft1")},
      ${unigramSoftSql("2", "v2")},
      ${prune("v3", "soft2")},
      conv AS (SELECT CASE WHEN (SELECT COUNT(*) FROM v2) = (SELECT COUNT(*) FROM v3)
        THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS converged)
      SELECT t.round, t.n_vocab, t.n_pruned, t.top_piece, t.top_soft_mc,
        conv.converged
      FROM (${roundRow(0)} UNION ALL ${roundRow(1)} UNION ALL ${roundRow(2)}) t,
        conv ORDER BY t.round"""
    })
  )

  /** The TRAINED-TOKENIZER round trip — the train→use seam that closes
    * full SentencePiece semantics: q_unigram_em3 converges a vocab
    * (three prune→refit→re-expect rounds toward the fixed point) but
    * until now no registered query SEGMENTED the corpus with it (the
    * only encoder, q_unigram_tokenizer, rides the hard-EM vocab). Here
    * the EM-CONVERGED v3 — pieces surviving three soft-EM prunes,
    * scored by their round-2 expected micro-counts — drives the
    * optimal-DP encoder ([[graft.operators.UnigramLm.segment]] /
    * graft_unigram_segment: fewest pieces, then max Σ score, then
    * lexicographic), and the result is the encoder's production
    * surface: per-piece corpus use counts plus the vocab size and the
    * corpus compression (total_pieces / total_words as fertility_ppm).
    * The oracle chains BOTH generators end to end: the three suffixed
    * forward–backward DP replays that converge v3 ([[unigramSoftSql]],
    * materialized snapshots — the multi-referenced-CTE hazard), then
    * the brute-force segmentation ENUMERATION over v3
    * ([[unigramRoundSql]]), so the kernel's DP optimality under the
    * TRAINED scores sits under the hash gate, not just the training
    * trajectory. Scale: three kernel passes + one segment pass over
    * the DISTINCT-word relation; driver state one vocab-sized (piece,
    * count) map per round — the em3 loop's shape exactly. */
  val qUnigramEmEncode = GraftQuery(
    "q_unigram_em_encode",
    (s, dir) => {
      import s.implicits._
      import graft.operators.{Caches, UnigramLm}
      val WScale = graft.expressions.UnigramExpect.WScale
      val w = Caches.register(
        Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n")))
      var v = UnigramLm.seedVocab(w, "token", "n", topK = WpTopK, maxLen = WpMaxLen)
      for (_ <- 0 until 3) {
        val costs = UnigramLm.logCosts(v)
        // E-step collected to the driver: vocab-sized (the BPE-merge
        // collect discipline); longValueExact throws on overflow — the
        // oracle's HUGEINT→BIGINT loudness
        val mc = UnigramLm.softCounts(w, "token", "n", v, costs)
          .collect().map(row => (row.getString(0),
            row.getDecimal(1).toBigInteger.longValueExact())).toMap
        val score = (p: String) => mc.getOrElse(p, 0L)
        val kept = v.pieces.filter(p => p.length == 1 || score(p) >= WScale)
        v = UnigramLm.Vocab(kept, kept.map(score))
      }
      val seg = Caches.register(w.select($"token", $"n",
        UnigramLm.segment($"token", v).as("pieces")))
      val tot = seg.agg(sum($"n").cast("long").as("total_words"),
        sum(size($"pieces").cast("long") * $"n").cast("long").as("total_pieces"))
      seg.select(explode($"pieces").as("piece"), $"n")
        .groupBy($"piece").agg(sum($"n").cast("long").as("n"))
        .crossJoin(tot)
        .withColumn("n_vocab_v3", lit(v.pieces.length.toLong))
        .withColumn("fertility_ppm",
          expr("CAST(total_pieces * 1000000 div total_words AS BIGINT)"))
        .select($"piece", $"n", $"n_vocab_v3", $"total_words",
          $"total_pieces", $"fertility_ppm")
        .orderBy($"n".desc, $"piece").limit(40)
    },
    Some({
      val WS = graft.expressions.UnigramExpect.WScale
      def prune(vNext: String, soft: String) =
        s"""$vNext AS (SELECT p, soft_mc AS score FROM $soft
            WHERE length(p) = 1 OR soft_mc >= $WS)"""
      s"""WITH RECURSIVE
      tok AS (SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
      w AS MATERIALIZED (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY token),
      grid AS (SELECT UNNEST(flatten(list_transform(range(1, length(token)+1), i ->
          list_transform(range(1, ${WpMaxLen + 1}), l -> CASE WHEN i + l - 1 <= length(token)
            THEN substr(token, i, l) ELSE NULL END)))) AS p, n FROM w),
      gc AS MATERIALIZED (SELECT p, CAST(SUM(n) AS BIGINT) AS c FROM grid WHERE p IS NOT NULL GROUP BY p),
      v0 AS (
        SELECT p, c AS score FROM (SELECT p, c FROM gc WHERE length(p) >= 2
          ORDER BY c DESC, p LIMIT $WpTopK)
        UNION ALL
        SELECT p, c AS score FROM gc WHERE length(p) = 1),
      ${unigramSoftSql("0", "v0")},
      ${prune("v1", "soft0")},
      ${unigramSoftSql("1", "v1")},
      ${prune("v2", "soft1")},
      ${unigramSoftSql("2", "v2")},
      ${prune("v3", "soft2")},
      vm3 AS MATERIALIZED (SELECT p, score FROM v3),
      ${unigramRoundSql("3", "vm3")},
      pc AS (SELECT UNNEST(pieces) AS piece, n FROM best3),
      counts AS (SELECT piece, CAST(SUM(n) AS BIGINT) AS n FROM pc GROUP BY piece),
      tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total_words,
        CAST(SUM(len(pieces) * n) AS BIGINT) AS total_pieces FROM best3),
      nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vocab_v3 FROM vm3)
      SELECT piece, counts.n, nv.n_vocab_v3, tot.total_words, tot.total_pieces,
        CAST(tot.total_pieces * 1000000 // tot.total_words AS BIGINT) AS fertility_ppm
      FROM counts, tot, nv ORDER BY counts.n DESC, piece LIMIT 40"""
    })
  )

  /** As-of join: each event matched to its user's latest prior order —
    * ONE shuffle (union + window), not an inequality-join explosion.
    * Orders pre-deduped per (custkey, orderdate) so the match is unique
    * and the DuckDB ASOF JOIN oracle is deterministic. */
  val qAsofJoin = GraftQuery(
    "q_asof_join",
    (s, dir) => {
      import s.implicits._
      val o = Tables.orders(s, dir)
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(max($"o_orderkey").as("o_orderkey"),
          expr("max_by(o_totalprice, o_orderkey)").as("o_totalprice"))
      val e = Tables.events(s, dir).select($"event_id", $"user_id", $"ts")
      graft.operators.TemporalJoins.asOfJoin(
          e, o, "user_id", "ts", "o_custkey", "o_orderdate",
          Seq("o_orderkey", "o_totalprice"))
        .select($"event_id", $"user_id",
          $"_matched.o_orderkey".as("matched_orderkey"),
          $"_matched.o_totalprice".as("matched_totalprice"))
        .orderBy($"event_id")
    },
    Some("""WITH o AS (SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey,
              ARG_MAX(o_totalprice, o_orderkey) AS o_totalprice
            FROM orders GROUP BY 1, 2)
      SELECT e.event_id, e.user_id, o.o_orderkey AS matched_orderkey,
             o.o_totalprice AS matched_totalprice
      FROM events e ASOF JOIN o
        ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      ORDER BY event_id""")
  )

  /** Range join: event pairs of the same user within a forward 60 s
    * window, time-bucketized (candidates bounded by bucket occupancy).
    * Integer µs comparisons in both engines. */
  val qRangeJoin = GraftQuery(
    "q_range_join",
    (s, dir) => {
      import s.implicits._
      graft.operators.TemporalJoins.rangeJoinForward(
          Tables.events(s, dir), "user_id", "ts", "event_id", windowSeconds = 60)
        .groupBy($"key").agg(count(lit(1)).as("n_pairs"))
        .orderBy($"key")
    },
    Some("""SELECT e1.user_id AS key, COUNT(*) AS n_pairs
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id
       AND epoch_us(e2.ts) > epoch_us(e1.ts)
       AND epoch_us(e2.ts) <= epoch_us(e1.ts) + 60000000
       AND e1.event_id <> e2.event_id
      GROUP BY 1 ORDER BY key""")
  )

  /** KMV sketch (custom TypedImperativeAggregate) group-wise distinct,
    * PORTABLE hash family — DuckDB reproduces the k-min sets and the
    * (k−1)/frac estimator exactly, so the sketch aggregate itself is
    * hash-oracled (xxhash64-family accuracy stays pinned in
    * KmvSketchSpec). */
  val qKmvDistinct = GraftQuery(
    "q_kmv_distinct",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(graft.expressions.KmvSketch.kmvDistinct($"l_orderkey", 512, portable = true)
          .as("approx_orders"))
        .orderBy($"l_returnflag")
    },
    // hv = two Lehmer steps of (l_orderkey mod P + 1); per group the
    // DISTINCT hashes' 512th minimum drives the estimator — below
    // capacity the estimate is the exact distinct-hash count
    Some("""WITH h AS (SELECT DISTINCT l_returnflag,
        (48271 * ((48271 * ((l_orderkey % 1000000007 + 1) % 1000000007)) % 1000000007)) % 1000000007 AS hv
      FROM lineitem),
      r AS (SELECT l_returnflag, hv,
        ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
        COUNT(*) OVER (PARTITION BY l_returnflag) AS nd
      FROM h)
      SELECT l_returnflag,
        CAST(CASE WHEN nd < 512 THEN nd
          ELSE GREATEST(1, CAST(ROUND(511 / (hv / 1000000007.0)) AS BIGINT)) END AS BIGINT)
          AS approx_orders
      FROM r WHERE rn = CASE WHEN nd < 512 THEN nd ELSE 512 END
      ORDER BY l_returnflag""")
  )

  /** KMV sketch SET ALGEBRA: pairwise audience overlap between event
    * types estimated from mergeable k-minimum-value sketches (k = 256,
    * portable Lehmer hash family), with the exact intersection as the
    * bench-scale certificate — the theta-sketch workflow (Dasgupta et
    * al., "Theta sketches") that replaces all-pairs exact intersection
    * joins at corpus scale. Per pair: merge the two k-min sets, take
    * the k smallest of the union; the union estimate is (k−1)/(τ/P)
    * past capacity (exact below it — same estimator as q_kmv_distinct);
    * the intersection estimate is the Jaccard of the merged k-set
    * (share present in BOTH sketches) times the union estimate.
    *
    * Scale: the only fact-sized work is ONE distinct (type, user)
    * rollup; sketches are |types|·k rows, the pair grid |types|²/2
    * rows, and every estimate is arithmetic on k-sized relations —
    * the exact-certificate self-join (user-keyed, fan-out ≤ |types|²
    * per user) is the part you DROP at 100 TB, which is the point.
    * Determinism: integer hashes end to end; the two ROUNDs are
    * fixed-order double expressions of identical integers. */
  val qKmvIntersect = GraftQuery(
    "q_kmv_intersect",
    (s, dir) => {
      import s.implicits._
      val P = 1000000007L
      val ev = Tables.events(s, dir).select($"event_type", $"user_id").distinct()
      val h = ev.select($"event_type",
        ((lit(48271L) * ((lit(48271L) * (($"user_id" % P + 1L) % P)) % P)) % P)
          .as("hv")).distinct()
      val wr = Window.partitionBy($"event_type").orderBy($"hv")
      val sk = h.withColumn("rn", row_number().over(wr))
        .filter($"rn" <= 256).select($"event_type", $"hv")
      val types = sk.select($"event_type").distinct()
      val pairs = types.as("a").join(types.as("b"),
          col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
      val merged = sk.join(broadcast(pairs),
          $"event_type" === $"ta" || $"event_type" === $"tb")
        .groupBy($"ta", $"tb", $"hv")
        .agg(max(when($"event_type" === $"ta", 1).otherwise(0)).as("ina"),
             max(when($"event_type" === $"tb", 1).otherwise(0)).as("inb"))
      val wm = Window.partitionBy($"ta", $"tb").orderBy($"hv")
      val ag = merged
        .withColumn("rn", row_number().over(wm))
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy($"ta", $"tb")))
        .filter($"rn" <= 256)
        .groupBy($"ta", $"tb").agg(
          max($"cnt").as("merged_distinct"),
          count(lit(1)).as("nkept"),
          max($"hv").as("tau"),
          sum(when($"ina" === 1 && $"inb" === 1, 1L).otherwise(0L)).as("rho"))
      val est = ag.withColumn("union_est",
          when($"merged_distinct" < 256, $"merged_distinct".cast(LongType))
            .otherwise(round(lit(255.0) / ($"tau" / lit(1000000007.0)))
              .cast(LongType)))
        .withColumn("inter_est",
          round($"rho" * $"union_est".cast(DoubleType) / $"nkept").cast(LongType))
      val exact = ev.as("x").join(ev.as("y"),
          col("x.user_id") === col("y.user_id") &&
          col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
        .agg(count(lit(1)).as("exact_inter"))
      est.join(exact, Seq("ta", "tb"), "left")
        .withColumn("exact_inter", coalesce($"exact_inter", lit(0L)))
        .select($"ta".as("type_a"), $"tb".as("type_b"), $"union_est",
          $"inter_est", $"exact_inter",
          round(($"inter_est" - $"exact_inter") * 100.0 /
            greatest($"exact_inter", lit(1L)), 6).as("err_pct"))
        .orderBy($"type_a", $"type_b")
    },
    Some("""WITH ev AS (SELECT DISTINCT event_type, user_id FROM events),
      h AS (SELECT DISTINCT event_type,
          (48271 * ((48271 * ((user_id % 1000000007 + 1) % 1000000007))
            % 1000000007)) % 1000000007 AS hv
        FROM ev),
      sk AS (SELECT event_type, hv FROM (
          SELECT event_type, hv,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rn
          FROM h) WHERE rn <= 256),
      tl AS (SELECT DISTINCT event_type FROM sk),
      pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
        FROM tl a JOIN tl b ON a.event_type < b.event_type),
      merged AS (SELECT p.ta, p.tb, s.hv,
          MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) AS ina,
          MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) AS inb
        FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)
        GROUP BY 1, 2, 3),
      ranked AS (SELECT *,
          ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY hv) AS rn,
          COUNT(*) OVER (PARTITION BY ta, tb) AS cnt
        FROM merged),
      ag AS (SELECT ta, tb, MAX(cnt) AS merged_distinct,
          CAST(COUNT(*) AS BIGINT) AS nkept, MAX(hv) AS tau,
          CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS rho
        FROM ranked WHERE rn <= 256 GROUP BY 1, 2),
      est AS (SELECT ta, tb, nkept, rho,
          CASE WHEN merged_distinct < 256 THEN CAST(merged_distinct AS BIGINT)
            ELSE CAST(ROUND(255.0 / (tau / 1000000007.0)) AS BIGINT) END
            AS union_est
        FROM ag),
      est2 AS (SELECT ta, tb, union_est,
          CAST(ROUND(rho * CAST(union_est AS DOUBLE) / nkept) AS BIGINT)
            AS inter_est
        FROM est),
      ex AS (SELECT x.event_type AS ta, y.event_type AS tb,
          CAST(COUNT(*) AS BIGINT) AS exact_inter
        FROM ev x JOIN ev y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT est2.ta AS type_a, est2.tb AS type_b, est2.union_est,
        est2.inter_est, COALESCE(ex.exact_inter, 0) AS exact_inter,
        ROUND((est2.inter_est - COALESCE(ex.exact_inter, 0)) * 100.0 /
          GREATEST(COALESCE(ex.exact_inter, 0), 1), 6) AS err_pct
      FROM est2 LEFT JOIN ex ON est2.ta = ex.ta AND est2.tb = ex.tb
      ORDER BY type_a, type_b""")
  )

  /** Composite document quality score (deterministic double math —
    * SQL-expressible; the formula is mirrored in the oracle). */
  val qQualityScore = GraftQuery(
    "q_quality_score",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.qualityScore($"text").as("quality"))
        .orderBy($"doc_id")
    },
    Some("""WITH t AS (SELECT doc_id, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      m AS (SELECT doc_id,
        CAST(LENGTH(text) AS DOUBLE) AS len,
        CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
        CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
      FROM t)
      SELECT doc_id,
        ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
              + LEAST(stop_ratio * 4.0, 1.0) * 0.3
              + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) AS quality
      FROM m ORDER BY doc_id""")
  )

  /** Pairwise source-corpus vocabulary similarity estimated from KMV
    * sketches alone: one scan builds a token sketch per source, the pair
    * stage touches only k-long arrays — never re-reading the corpus.
    * PORTABLE hash family → the k-min sets, the union-overlap Jaccard
    * and therefore the whole query are DuckDB-oracled. */
  val qSourceSimilarity = GraftQuery(
    "q_source_similarity",
    (s, dir) => {
      import s.implicits._
      import graft.expressions.KmvSketch
      val sk = Tables.documents(s, dir)
        .select($"source", explode(TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"source").agg(KmvSketch.kmvSet($"token", 256, portable = true).as("sk"))
      sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          round(KmvSketch.kmvJaccard(col("a.sk"), col("b.sk"), 256), 6)
            .as("est_vocab_jaccard"))
        .orderBy($"source_a", $"source_b")
    },
    // token hash = two Lehmer steps of (poly31(token) + 1); per source
    // the 256 smallest distinct hashes form the sketch; pair similarity
    // = overlap share of the union's 256 smallest (kmvJaccard mirrored)
    Some("""WITH tok AS (SELECT DISTINCT source,
        (48271 * ((48271 * ((list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(token, '.'), c -> CAST(ord(c) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % 1000000007) + 1) % 1000000007)) % 1000000007)) % 1000000007 AS hv
      FROM (SELECT source,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
      FROM documents) t),
      sk AS (SELECT source, list_sort(list(hv))[1:256] AS sk
        FROM tok GROUP BY source),
      p AS (SELECT a.source AS source_a, b.source AS source_b,
          a.sk AS ska, b.sk AS skb,
          list_sort(list_distinct(a.sk || b.sk))[1:256] AS u
        FROM sk a JOIN sk b ON a.source < b.source)
      SELECT source_a, source_b,
        ROUND(CAST(len(list_filter(u, x -> list_contains(ska, x) AND list_contains(skb, x))) AS DOUBLE)
          / GREATEST(len(u), 1), 6) AS est_vocab_jaccard
      FROM p ORDER BY source_a, source_b""")
  )

  /** EXACT cross-source content overlap (df-capped 3-shingle sets) —
    * the ground truth the KMV estimate above approximates: which
    * providers mirror each other's content, at the source grain. One
    * shingle-hash shuffle + a df-cap-bounded self-join; set sizes
    * broadcast back ([[graft.operators.Dedup.sourceOverlap]]). */
  val qSourceOverlap = GraftQuery(
    "q_source_overlap",
    (s, dir) => {
      import s.implicits._
      graft.operators.Dedup.sourceOverlap(Tables.documents(s, dir),
          "doc_id", "text", "source", k = 3, maxDf = 100)
        .orderBy($"src_a", $"src_b")
    },
    Some("""WITH toks AS (SELECT doc_id, source,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      sh0 AS (SELECT DISTINCT doc_id, source, s FROM (
        SELECT doc_id, source, CASE WHEN LEN(ts) < 3 THEN [array_to_string(ts, ' ')]
          ELSE [array_to_string(ts[i+1:i+3], ' ') for i in range(0, LEN(ts)-2)] END AS ss
        FROM toks), UNNEST(ss) AS u(s)),
      freq AS (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s),
      srcsh AS (SELECT DISTINCT source, s
        FROM sh0 JOIN freq USING (s) WHERE freq.df <= 100),
      sizes AS (SELECT source, COUNT(*) AS n FROM srcsh GROUP BY 1),
      ov AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM srcsh a JOIN srcsh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2)
      SELECT src_a, src_b, n_shared, na.n AS n_a, nb.n AS n_b,
        FLOOR(n_shared * 1000000.0 / (na.n + nb.n - n_shared) + 0.5) / 1000000.0 AS jaccard
      FROM ov JOIN sizes na ON na.source = src_a JOIN sizes nb ON nb.source = src_b
      ORDER BY src_a, src_b""")
  )

  /** Per-document n-gram NOVELTY: the share of a doc's distinct
    * trigrams whose corpus-wide FIRST occurrence (min doc_id — arrival
    * order) is this doc. Low-novelty docs are derivative — built from
    * text the corpus already contains — and are the prime dedup/
    * down-weight candidates that pairwise near-dup misses (a mosaic of
    * many sources matches no single doc). Returns the 20 most
    * derivative docs.
    *
    * Scale: shingles hash to 64-bit longs map-side (portable polynomial
    * family, so DuckDB reproduces them); the one shuffle is on the hash
    * for the min-doc aggregate, and the hash join back reuses that same
    * partitioning (co-partitioned, no second data shuffle). Text never
    * shuffles. ~1e-9 hash-collision rate conflates a shingle pair —
    * identically in both engines. */
  val qNgramNovelty = GraftQuery(
    "q_ngram_novelty",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DoubleType
      val sh = Tables.documents(s, dir).select($"doc_id",
        explode(graft.expressions.TextHashExprs.shingleHashes64(
          TextAnalysis.tokens($"text"), 3, portable = true)).as("h"))
      val first = sh.groupBy($"h").agg(min($"doc_id").as("first_doc"))
      sh.join(first, Seq("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_ngrams"),
          sum(($"doc_id" === $"first_doc").cast("long")).as("n_novel"))
        .select($"doc_id", $"n_ngrams", $"n_novel",
          round($"n_novel".cast(DoubleType) / $"n_ngrams", 6).as("novelty"))
        .orderBy($"novelty", $"doc_id")
        .limit(20)
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      sg AS (SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END AS shingles
      FROM t),
      hs AS (SELECT doc_id, UNNEST(list_distinct(list_transform(shingles, s ->
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(regexp_extract_all(s, '.'), c -> CAST(ord(c) AS BIGINT))),
          (acc, x) -> (acc * 31 + x) % 1000000007)))) AS h
      FROM sg),
      f AS (SELECT h, MIN(doc_id) AS first_doc FROM hs GROUP BY h)
      SELECT hs.doc_id, COUNT(*) AS n_ngrams,
        CAST(SUM(CASE WHEN hs.doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        ROUND(CAST(SUM(CASE WHEN hs.doc_id = first_doc THEN 1 ELSE 0 END) AS DOUBLE)
          / COUNT(*), 6) AS novelty
      FROM hs JOIN f USING (h)
      GROUP BY hs.doc_id ORDER BY novelty, doc_id LIMIT 20""")
  )

  /** Corpus-level REPEATED-SPAN detection — the substring-granular
    * dedup signal (suffix-array "dedup training data" style,
    * approximated with fixed k-token windows): hash every 8-token
    * window positionally, keep windows whose hash occurs ≥ 2 times
    * corpus-wide, and merge ADJACENT repeated positions per doc into
    * maximal spans (gaps-and-islands on pos − row_number). A run of r
    * consecutive repeated windows certifies a repeated span of
    * r + k − 1 tokens. Returns the 20 longest spans. Docs under k
    * tokens are excluded (no full window exists).
    *
    * Scale: windows hash map-side to longs (portable polynomial family
    * — DuckDB reproduces them); the df pass and the repeat join shuffle
    * the SAME (hash) key, so the exchange is reused; the only other
    * shuffle is per-doc for the island window. Text never shuffles.
    * Window df has no hot-key cap because the join is key-to-AGGREGATE
    * (≥2 filter output is one row per hash), never pair-expanding. */
  val qRepeatedSpans = GraftQuery(
    "q_repeated_spans",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val K = 8
      val ph = Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
        .filter(size($"toks") >= K)
        .select($"doc_id", posexplode(
          graft.expressions.TextHashExprs.positionalShingleHashes64(
            $"toks", K, portable = true)))
        .toDF("doc_id", "pos", "h")
      val rep = ph.groupBy($"h").agg(count(lit(1)).as("cnt"))
        .filter($"cnt" >= 2).select($"h")
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      ph.join(rep, Seq("h"))
        .withColumn("grp", $"pos" - row_number().over(w))
        .groupBy($"doc_id", $"grp")
        .agg(min($"pos").cast("long").as("start_pos"),
          count(lit(1)).as("n_windows"))
        .select($"doc_id", $"start_pos", $"n_windows",
          ($"n_windows" + (K - 1)).as("span_tokens"))
        .orderBy($"span_tokens".desc, $"doc_id", $"start_pos")
        .limit(20)
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      ph AS (SELECT doc_id,
        list_transform(range(len(toks) - 7), i ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(array_to_string(toks[i+1:i+8], ' '), '.'),
              c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007)) AS hs
      FROM t WHERE len(toks) >= 8),
      p AS (SELECT doc_id, i AS pos, hs[i+1] AS h
        FROM ph, UNNEST(range(len(hs))) AS u(i)),
      rep AS (SELECT h FROM p GROUP BY h HAVING COUNT(*) >= 2),
      r AS (SELECT p.doc_id, p.pos FROM p JOIN rep USING (h)),
      g AS (SELECT doc_id, pos,
        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM r),
      spans AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
        CAST(COUNT(*) AS BIGINT) AS n_windows,
        CAST(COUNT(*) + 7 AS BIGINT) AS span_tokens
      FROM g GROUP BY doc_id, grp)
      SELECT doc_id, start_pos, n_windows, span_tokens FROM spans
      ORDER BY span_tokens DESC, doc_id, start_pos LIMIT 20""")
  )

  /** Tokenizer FERTILITY by language: chars per BPE-ish piece and
    * pieces per whitespace word — the per-language token-cost table
    * that prices a multilingual corpus against a token budget (CJK
    * text shows low chars/piece under a Latin-biased pre-tokenizer;
    * fertility is THE standard diagnostic for that bias). Pure map-side
    * counting kernels + one |langs|-row rollup; integer sums, division
    * at the end, mirrored in the oracle. */
  val qTokenFertility = GraftQuery(
    "q_token_fertility",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DoubleType, LongType}
      Tables.documents(s, dir)
        .select($"lang", length($"text").cast(LongType).as("chars"),
          TextAnalysis.wsTokenCount($"text").cast(LongType).as("ws"),
          TextAnalysis.bpeIshTokenCount($"text").cast(LongType).as("bp"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"chars").as("n_chars"), sum($"ws").as("n_words"),
          sum($"bp").as("n_pieces"))
        .select($"lang", $"n_docs", $"n_chars", $"n_words", $"n_pieces",
          round($"n_chars".cast(DoubleType) / greatest($"n_pieces", lit(1L)), 6)
            .as("chars_per_piece"),
          round($"n_pieces".cast(DoubleType) / greatest($"n_words", lit(1L)), 6)
            .as("fertility"))
        .orderBy($"lang")
    },
    Some("""WITH m AS (SELECT lang, CAST(LENGTH(text) AS BIGINT) AS chars,
        CASE WHEN TRIM(text) = '' THEN 0
             ELSE LEN(string_split_regex(TRIM(text), '\s+')) END AS ws,
        LEN(regexp_extract_all(text, '[A-Za-z]+|\d|[^A-Za-z\d\s]')) AS bp
      FROM documents),
      g AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(chars) AS BIGINT) AS n_chars,
          CAST(SUM(ws) AS BIGINT) AS n_words, CAST(SUM(bp) AS BIGINT) AS n_pieces
        FROM m GROUP BY 1)
      SELECT lang, n_docs, n_chars, n_words, n_pieces,
        ROUND(CAST(n_chars AS DOUBLE) / GREATEST(n_pieces, 1), 6) AS chars_per_piece,
        ROUND(CAST(n_pieces AS DOUBLE) / GREATEST(n_words, 1), 6) AS fertility
      FROM g ORDER BY lang""")
  )

  /** Precompute 1 − (1 − s^r)^b at s = 0.5 in Scala and interpolate the
    * SAME rounded literal into both engines — a runtime pow() would pin
    * parity to cross-engine transcendental rounding. */
  private def sCurveAt05(r: Int, b: Int): Double = {
    val v = 1.0 - math.pow(1.0 - math.pow(0.5, r), b)
    math.floor(v * 1000000.0 + 0.5) / 1000000.0
  }

  /** LSH BANDING S-CURVE, measured: the same 32-hash signatures banded
    * three ways (rows-per-band r ∈ {2, 4, 8}, b = 32/r) — how the
    * detected-pair count and similarity mix move along the
    * 1−(1−sʳ)ᵇ curve. This is THE tuning decision for minhash dedup at
    * scale (r small → recall at the cost of candidate volume; r large →
    * precision but misses borderline pairs); running all three against
    * one cached signature relation makes the trade-off a single
    * measured table instead of folklore. The theoretical detection
    * probability at s = 0.5 rides along as a PRECOMPUTED literal
    * (identical text in both engines — no runtime pow). Signature
    * relation is cached once; each banding shuffles only (id,
    * band-hash) rows. */
  val qLshScurve = GraftQuery(
    "q_lsh_scurve",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}
      val sig = graft.operators.Caches.register(
        Dedup.minhashSignatures(Tables.documents(s, dir), "doc_id", "text",
          k = 3, numHashes = 32))
      def config(r: Int): DataFrame = {
        val b = 32 / r
        Dedup.minhashPairsFromSignatures(sig, 32, b, threshold = 0.5,
            maxBucket = 100)
          .agg(count(lit(1)).cast(LongType).as("n_pairs"),
            round(coalesce(sum($"est_jaccard".cast(DecimalType(18, 6))), lit(0))
              .cast(DoubleType) / greatest(count(lit(1)), lit(1L)), 6)
              .as("mean_sim"))
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            $"n_pairs", $"mean_sim", lit(sCurveAt05(r, b)).as("p_detect_at_05"))
      }
      config(2).unionByName(config(4)).unionByName(config(8))
        .orderBy($"rows_per_band")
    },
    Some {
      def chain(r: Int, tag: String): String = {
        val b = 32 / r
        s"""${MinhashOracle.bandCtes(r, tag = tag)},
        f$tag AS (SELECT $b AS bands, $r AS rows_per_band,
            CAST(COUNT(*) AS BIGINT) AS n_pairs,
            ROUND(CAST(COALESCE(SUM(CAST(est_jaccard AS DECIMAL(18,6))), 0) AS DOUBLE)
              / GREATEST(COUNT(*), 1), 6) AS mean_sim,
            ${sCurveAt05(r, b)} AS p_detect_at_05
          FROM ver$tag WHERE est_jaccard >= 0.5)"""
      }
      s"""WITH ${MinhashOracle.sigCtes},
      ${chain(2, "a")},
      ${chain(4, "b")},
      ${chain(8, "c")},
      allc AS (SELECT * FROM fa UNION ALL SELECT * FROM fb UNION ALL SELECT * FROM fc)
      SELECT * FROM allc ORDER BY rows_per_band"""
    }
  )

  /** Language PURITY per source — the provider-level rollup of
    * q_lang_confusion: what share of each source's docs have a
    * predicted language agreeing with the declared one. Sources below
    * the purity bar get their metadata distrusted (re-tag from content)
    * or their crawl quarantined; the confusion matrix says WHAT gets
    * mixed up, this says WHO ships mislabeled data. Same deterministic
    * rounded-argmax scoring; one |sources|-row rollup. */
  val qLangPurity = GraftQuery(
    "q_lang_purity",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val scored = TextAnalysis.langScores($"text").foldLeft(Tables.documents(s, dir)) {
        case (d, (l, c)) => d.withColumn(s"s_$l", round(c, 6))
      }
      val langs = Seq("de", "en", "es", "fr", "zh")
      val best = langs.map(l => col(s"s_$l")).reduce(greatest(_, _))
      val predicted = langs.foldLeft(when(best === 0.0, "und")) { (acc, l) =>
        acc.when(col(s"s_$l") === best, l)
      }.otherwise("und")
      scored.withColumn("predicted", predicted)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(($"predicted" === $"lang").cast("int")).cast(LongType).as("n_pure"),
          countDistinct($"lang").cast(LongType).as("n_declared_langs"))
        .withColumn("purity",
          floor($"n_pure" * 1000000.0 / $"n_docs" + 0.5) / 1000000.0)
        .orderBy($"source")
    },
    Some("""WITH t AS (SELECT doc_id, lang, source, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      s AS (SELECT doc_id, lang, source,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','eine','zu','mit','den','von','sich','auf','für'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_de,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_en,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('el','la','de','que','y','en','un','una','es','por','con','no','los','las','para'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_es,
        ROUND(CAST(LEN(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour','dans','qui','pas','sur','avec'))) AS DOUBLE) / GREATEST(LEN(toks),1), 6) AS s_fr,
        ROUND(CAST(LEN(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / GREATEST(LENGTH(text),1), 6) AS s_zh
      FROM t),
      p AS (SELECT source, lang,
        CASE WHEN GREATEST(s_de,s_en,s_es,s_fr,s_zh) = 0 THEN 'und'
             WHEN s_de = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'de'
             WHEN s_en = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'en'
             WHEN s_es = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'es'
             WHEN s_fr = GREATEST(s_de,s_en,s_es,s_fr,s_zh) THEN 'fr'
             ELSE 'zh' END AS predicted
      FROM s)
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_pure,
        CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_declared_langs,
        FLOOR(SUM(CASE WHEN predicted = lang THEN 1 ELSE 0 END) * 1000000.0 / COUNT(*) + 0.5) / 1000000.0 AS purity
      FROM p GROUP BY 1 ORDER BY source""")
  )

  /** CCNet-style PERPLEXITY BUCKETS: per language, documents ranked by
    * unigram cross-entropy and cut into head/middle/tail terciles —
    * the classic LM-quality partition (head = fluent, tail = noisy or
    * off-distribution) that downstream mixing weights consume. The cut
    * is RANK-based (per-lang row_number over (xent, doc_id)), which is
    * exactly balanced and sidesteps cross-engine quantile-interpolation
    * parity entirely; at 100 TB the per-lang rank sort swaps for
    * approx-quantile cuts (same report shape, documented). Per-bucket
    * mean goes through the DECIMAL term discipline of q_unigram_xent. */
  val qCcnetBuckets = GraftQuery(
    "q_ccnet_buckets",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val toks = graft.operators.Caches.register(
        Tables.documents(s, dir)
          .select($"doc_id", $"lang", explode(TextAnalysis.tokens($"text")).as("tok")))
      val n = toks.count()
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("n_tok"))
      val xent = toks.join(broadcast(freq), "tok")
        .groupBy($"doc_id", $"lang")
        .agg(round((sum((-log($"n_tok".cast("double") / n))
            .cast(DecimalType(18, 12)))
          .cast("double") / count(lit(1))), 6).as("xent"))
      val w = Window.partitionBy($"lang").orderBy($"xent", $"doc_id")
      val nw = Window.partitionBy($"lang")
      xent
        .withColumn("rk", row_number().over(w))
        .withColumn("n_lang", count(lit(1)).over(nw))
        .withColumn("bucket", expr("(3 * (rk - 1)) div n_lang"))
        .groupBy($"lang", $"bucket")
        .agg(count(lit(1)).as("n_docs"),
          round(sum($"xent".cast(DecimalType(18, 6))).cast("double")
            / count(lit(1)), 6).as("mean_xent"),
          min($"xent").as("min_xent"), max($"xent").as("max_xent"))
        .orderBy($"lang", $"bucket")
    },
    Some("""WITH t AS (SELECT doc_id, lang, u.tok FROM (
        SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
        FROM documents), UNNEST(ts) AS u(tok)),
      tot AS (SELECT COUNT(*) AS n FROM t),
      f AS (SELECT tok, COUNT(*) AS n_tok FROM t GROUP BY tok),
      x AS (SELECT doc_id, lang,
          ROUND(CAST(SUM(CAST(-LN(CAST(f.n_tok AS DOUBLE) / tot.n) AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*), 6) AS xent
        FROM t JOIN f USING (tok), tot
        GROUP BY doc_id, lang),
      r AS (SELECT lang, xent,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY xent, doc_id) AS rk,
          COUNT(*) OVER (PARTITION BY lang) AS n_lang
        FROM x),
      b AS (SELECT lang, xent, (3 * (rk - 1)) // n_lang AS bucket FROM r)
      SELECT lang, bucket, COUNT(*) AS n_docs,
        ROUND(CAST(SUM(CAST(xent AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_xent,
        MIN(xent) AS min_xent, MAX(xent) AS max_xent
      FROM b GROUP BY 1, 2 ORDER BY lang, bucket""")
  )

  /** Cross-document SHARED-PASSAGE mining — the pair-ALIGNED companion
    * of q_repeated_spans: where that query reports "this doc contains a
    * span repeated somewhere in the corpus", this one reports WHO shares
    * it WITH WHOM and at what offsets — the attribution needed to pick
    * which copy to keep (and to excise quoted passages surgically,
    * Lee-et-al substring-dedup style). Every 8-token window hashes
    * positionally; equal hashes across a (doc_a < doc_b) pair are match
    * points (i, j); runs of consecutive matches on one DIAGONAL
    * (d = i − j constant, the classic dot-plot alignment) merge via
    * gaps-and-islands into maximal aligned spans of run + k − 1 tokens.
    * Top 50 spans ≥ 12 tokens, longest first.
    *
    * Scale: the pair join is df-capped (windows in > 20 docs are
    * boilerplate and dropped — same `dropHotKeys` discipline as every
    * blocked dedup join; without it one viral snippet makes the join
    * quadratic). Matches shuffle on (doc_a, doc_b, d) — bounded by
    * matched pair volume, never the corpus; text never shuffles (only
    * 8-byte hashes + positions). The island window runs per diagonal
    * within a pair — thousands of small partitions, no global sort; the
    * top-50 is a TakeOrdered. */
  val qSharedSpans = GraftQuery(
    "q_shared_spans",
    (s, dir) => {
      import s.implicits._
      val K = 8; val MaxDf = 20; val MinSpan = 12
      // cached (r16): the positional-window stream feeds the df rollup
      // AND both sides of the alignment self-join — uncached, the
      // tokenize + window-hash pass ran up to three times (the two
      // self-join sides share an exchange, the df rollup's partial-agg
      // exchange does not). ~24 B/position, same storage note as the
      // span-dedup seeds cache.
      val grams = graft.operators.Caches.register(Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.tokens($"text").as("ts"))
        .filter(size($"ts") >= K)
        .select($"doc_id",
          posexplode(expr(s"transform(sequence(0, size(ts) - $K), " +
            s"i -> xxhash64(concat_ws(' ', slice(ts, i + 1, $K))))"))
            .as(Seq("i", "h")))
        .select($"doc_id", $"i".cast("long").as("i"), $"h"))
      val ok = grams.groupBy($"h")
        .agg(countDistinct($"doc_id").as("df"))
        .filter($"df" <= MaxDf)
        .select($"h")
      val g = grams.join(ok, "h")
      val m = g.as("a").join(g.as("b"), Seq("h"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          ($"a.i" - $"b.i").as("d"), $"a.i".as("i"))
      val w = Window.partitionBy($"doc_a", $"doc_b", $"d").orderBy($"i")
      m.withColumn("run", $"i" - row_number().over(w))
        .groupBy($"doc_a", $"doc_b", $"d", $"run")
        .agg(min($"i").as("start_a"), count(lit(1)).as("cnt"))
        .select($"doc_a", $"doc_b", $"start_a",
          ($"start_a" - $"d").as("start_b"),
          ($"cnt" + (K - 1)).as("span_tokens"))
        .filter($"span_tokens" >= MinSpan)
        .orderBy($"span_tokens".desc, $"doc_a", $"doc_b", $"start_a", $"start_b")
        .limit(50)
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      g AS (SELECT doc_id, u.i AS i, array_to_string(ts[u.i+1:u.i+8], ' ') AS s
        FROM toks, UNNEST(range(LEN(ts) - 7)) AS u(i) WHERE LEN(ts) >= 8),
      df AS (SELECT s FROM (SELECT s, COUNT(DISTINCT doc_id) AS c FROM g GROUP BY s) t
        WHERE c <= 20),
      gg AS (SELECT g.* FROM g JOIN df USING (s)),
      m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.i - b.i AS d, a.i AS i
        FROM gg a JOIN gg b ON a.s = b.s AND a.doc_id < b.doc_id),
      r AS (SELECT doc_a, doc_b, d, i,
          i - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, d ORDER BY i) AS run
        FROM m),
      sp AS (SELECT doc_a, doc_b, MIN(i) AS start_a, MIN(i) - d AS start_b,
          COUNT(*) + 7 AS span_tokens
        FROM r GROUP BY doc_a, doc_b, d, run)
      SELECT doc_a, doc_b, start_a, start_b, span_tokens
      FROM sp WHERE span_tokens >= 12
      ORDER BY span_tokens DESC, doc_a, doc_b, start_a, start_b LIMIT 50""")
  )

  /** BM25 retrieval scoring (Robertson k1=1.2, b=0.75) for a fixed
    * conjunctive query over the document corpus — the classical ranking
    * baseline every retrieval stack (and every retrieval-eval harness)
    * needs beside the embedding ANN path. Float determinism: tf/df/dl
    * are exact integers; each query term's contribution is isolated into
    * its OWN conditional-sum column (adding 0.0 is exact, so the
    * per-term sums are order-independent) and the final score adds the
    * four columns in one fixed left-associative expression — no
    * unordered double summation anywhere. Scale shape: the tf relation
    * is filtered to query terms BEFORE any shuffle (tokens explode →
    * isin filter → (doc,term) rollup), df is a terms-sized broadcast,
    * dl a one-pass rollup; top-20 via rounded-score order. */
  /** Full-corpus BM25 scoring relation (doc_id, score_bm25) — the Spark
    * twin of [[bm25Ctes]], shared by q_bm25 and q_rrf_fusion. */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    val terms = Seq("hash", "join", "stream", "window")
    val docs = Tables.documents(s, dir)
      .select($"doc_id", TextAnalysis.tokens($"text").as("toks"))
    val dl = docs.select($"doc_id", size($"toks").cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"), sum($"dl").as("total_dl"))
    val tf = docs.select($"doc_id", explode($"toks").as("tok"))
      .filter($"tok".isin(terms: _*))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", $"total_dl".cast("double") / $"n".cast("double"))
      .withColumn("idf",
        log(lit(1.0) + (($"n" - $"df").cast("double") + lit(0.5)) /
          ($"df".cast("double") + lit(0.5))))
      .withColumn("w",
        $"idf" * ($"tf".cast("double") * lit(2.2)) /
          ($"tf".cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) * ($"dl".cast("double") / $"avgdl"))))
    val score = terms.foldLeft(lit(0.0)) { (acc, t) =>
      acc + sum(when($"tok" === t, $"w").otherwise(lit(0.0)))
    }
    contrib.groupBy($"doc_id").agg(round(score, 6).as("score_bm25"))
  }

  val qBm25 = GraftQuery(
    "q_bm25",
    (s, dir) => {
      import s.implicits._
      bm25Scored(s, dir).orderBy($"score_bm25".desc, $"doc_id").limit(20)
    },
    Some(s"""WITH $bm25Ctes
      SELECT doc_id, score_bm25 FROM bm25sc
      ORDER BY score_bm25 DESC, doc_id LIMIT 20""")
  )

  /** CTE chain producing `bm25sc(doc_id, score_bm25)` — the full corpus
    * BM25 scoring shared by q_bm25's top-20 and q_rrf_fusion's rank list.
    * (def, not val: referenced from queries declared lexically earlier.) */
  private def bm25Ctes: String =
    """docs AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      dl AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS dl FROM docs),
      stats AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl),
      tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM (
          SELECT doc_id, unnest(toks) AS tok FROM docs) t
        WHERE tok IN ('hash', 'join', 'stream', 'window')
        GROUP BY 1, 2),
      df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
      c AS (SELECT tf.doc_id, tf.tok,
          LN(1.0 + (CAST(s.n - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
            * (CAST(tf.tf AS DOUBLE) * 2.2) /
            (CAST(tf.tf AS DOUBLE) +
             1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
               (CAST(s.total_dl AS DOUBLE) / CAST(s.n AS DOUBLE))))) AS w
        FROM tf JOIN df ON tf.tok = df.tok
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats s),
      bm25sc AS (SELECT doc_id,
        ROUND(((SUM(CASE WHEN tok = 'hash' THEN w ELSE 0.0 END)
          + SUM(CASE WHEN tok = 'join' THEN w ELSE 0.0 END))
          + SUM(CASE WHEN tok = 'stream' THEN w ELSE 0.0 END))
          + SUM(CASE WHEN tok = 'window' THEN w ELSE 0.0 END), 6) AS score_bm25
      FROM c GROUP BY doc_id)"""

  /** Reciprocal-rank fusion (k=60) of the BM25 relevance ranking with
    * the quality-score ranking — hybrid retrieval's standard fusion, and
    * exactly how curation pipelines blend "matches the query" with "is
    * worth training on". Rank lists are deterministic (explicit
    * tie-breaks), each system's 1/(60+rank) term quantizes to integer
    * ppm, and the two-term fusion adds in fixed order — the whole
    * ranking is engine-exact. Docs in only one list keep their single
    * term (full outer join), the RRF convention. */
  val qRrfFusion = GraftQuery(
    "q_rrf_fusion",
    (s, dir) => {
      import s.implicits._
      val wA = Window.orderBy($"score_bm25".desc, $"doc_id")
      val ra = bm25Scored(s, dir)
        .withColumn("rank_bm25", row_number().over(wA))
        .filter($"rank_bm25" <= 50).select($"doc_id", $"rank_bm25")
      val wB = Window.orderBy($"q".desc, $"doc_id")
      val rb = Tables.documents(s, dir)
        .select($"doc_id", TextAnalysis.qualityScore($"text").as("q"))
        .withColumn("rank_quality", row_number().over(wB))
        .filter($"rank_quality" <= 50).select($"doc_id", $"rank_quality")
      def term(rank: org.apache.spark.sql.Column) =
        coalesce(floor(lit(1000000.0) / (lit(60) + rank) + lit(0.5)).cast("long"),
          lit(0L))
      ra.join(rb, Seq("doc_id"), "full_outer")
        .withColumn("rrf_ppm", term($"rank_bm25") + term($"rank_quality"))
        .orderBy($"rrf_ppm".desc, $"doc_id").limit(20)
        .select($"doc_id", $"rank_bm25", $"rank_quality", $"rrf_ppm",
          round($"rrf_ppm".cast("double") / lit(1000000.0), 6).as("rrf_score"))
    },
    Some(s"""WITH $bm25Ctes,
      ra AS (SELECT doc_id, rank_bm25 FROM (
          SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY score_bm25 DESC, doc_id) AS INTEGER)
              AS rank_bm25
          FROM bm25sc) t WHERE rank_bm25 <= 50),
      tq AS (SELECT doc_id, text,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents),
      mq AS (SELECT doc_id,
          CAST(LENGTH(text) AS DOUBLE) AS len,
          CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
          CAST(LEN(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
        FROM tq),
      qsc AS (SELECT doc_id,
          ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
            + LEAST(stop_ratio * 4.0, 1.0) * 0.3
            + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) AS q
        FROM mq),
      rb AS (SELECT doc_id, rank_quality FROM (
          SELECT doc_id,
            CAST(ROW_NUMBER() OVER (ORDER BY q DESC, doc_id) AS INTEGER)
              AS rank_quality
          FROM qsc) t WHERE rank_quality <= 50),
      f AS (SELECT COALESCE(ra.doc_id, rb.doc_id) AS doc_id,
          ra.rank_bm25, rb.rank_quality,
          COALESCE(CAST(FLOOR(1000000.0 / (60 + ra.rank_bm25) + 0.5) AS BIGINT), 0)
            + COALESCE(CAST(FLOOR(1000000.0 / (60 + rb.rank_quality) + 0.5) AS BIGINT), 0)
            AS rrf_ppm
        FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
      SELECT doc_id, rank_bm25, rank_quality, rrf_ppm,
        ROUND(CAST(rrf_ppm AS DOUBLE) / 1000000.0, 6) AS rrf_score
      FROM f ORDER BY rrf_ppm DESC, doc_id LIMIT 20""")
  )

  /** Maximal Marginal Relevance re-rank: greedy λ-tradeoff between
    * relevance to the query and similarity to the already-selected set —
    * the standard diversification pass between retrieval and a context
    * window (dedup-at-selection-time for RAG and for eval-set
    * construction). Greedy selection is inherently sequential, but each
    * of the 5 rounds is a pure DataFrame program over the CACHED
    * 20-candidate relation (anti-join the selected set → max-sim to
    * selected → one round-6 scalar → top-1 pick); nothing but the
    * selection order ever leaves the executors, and the candidate and
    * pair-sim relations are k- and k²-sized regardless of corpus size.
    * λ = 0.7; all scores rounded to 6dp BEFORE comparison so the argmax
    * (ties broken by vec_id) is engine-exact; the oracle unrolls the
    * same 5 rounds as CTE triples. */
  val qMmrDiversify = GraftQuery(
    "q_mmr_diversify",
    (s, dir) => {
      import s.implicits._
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val q = emb.orderBy($"vec_id").limit(1)
        .select($"embedding").collect()(0).getSeq[Double](0)
      val cands = graft.operators.Caches.register(
        Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 20)
          .withColumnRenamed("cos_sim", "rel"))
      val ce = graft.operators.Caches.register(
        cands.join(emb, "vec_id").select($"vec_id", $"embedding", $"rel"))
      val pair = graft.operators.Caches.register(
        ce.as("x").join(ce.as("y"), col("x.vec_id") =!= col("y.vec_id"))
          .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
            round(Similarity.cosineNative(col("x.embedding"), col("y.embedding")), 6)
              .as("sim")))
      var selected = cands.orderBy($"rel".desc, $"vec_id").limit(1)
        .select($"vec_id", $"rel", $"rel".as("mmr"), lit(1).as("sel_rank"))
        .localCheckpoint()
      for (r <- 2 to 5) {
        val selIds = selected.select($"vec_id")
        val scored = cands.join(selIds, Seq("vec_id"), "left_anti")
          .join(pair, $"vec_id" === pair("a"))
          .join(selIds.select($"vec_id".as("b")), "b")
          .groupBy($"vec_id", $"rel")
          .agg(round(lit(0.7) * $"rel" - lit(0.3) * max($"sim"), 6).as("mmr"))
        val pick = scored.orderBy($"mmr".desc, $"vec_id").limit(1)
          .select($"vec_id", $"rel", $"mmr", lit(r).as("sel_rank"))
        selected = selected.union(pick).localCheckpoint()
      }
      selected.select($"sel_rank", $"vec_id", $"rel", $"mmr").orderBy($"sel_rank")
    },
    Some {
      val cos = (a: String, b: String) =>
        s"""ROUND(list_dot_product($a, $b) /
          (SQRT(list_dot_product($a, $a)) * SQRT(list_dot_product($b, $b))), 6)"""
      val sb = new StringBuilder
      sb.append(s"""WITH e2 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e2 ORDER BY vec_id LIMIT 1),
      cands AS (SELECT vec_id, v, ${cos("v", "qv")} AS rel
        FROM e2, q ORDER BY rel DESC, vec_id LIMIT 20),
      pair AS (SELECT x.vec_id AS a, y.vec_id AS b, ${cos("x.v", "y.v")} AS sim
        FROM cands x JOIN cands y ON x.vec_id <> y.vec_id),
      sel1 AS (SELECT vec_id, rel, rel AS mmr, 1 AS sel_rank
        FROM cands ORDER BY rel DESC, vec_id LIMIT 1)""")
      for (r <- 2 to 5) {
        sb.append(s""",
      sc$r AS (SELECT c.vec_id, c.rel, ROUND(0.7 * c.rel - 0.3 * MAX(p.sim), 6) AS mmr
        FROM cands c JOIN pair p ON p.a = c.vec_id
        WHERE p.b IN (SELECT vec_id FROM sel${r - 1})
          AND c.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
        GROUP BY c.vec_id, c.rel),
      pk$r AS (SELECT vec_id, rel, mmr, $r AS sel_rank
        FROM sc$r ORDER BY mmr DESC, vec_id LIMIT 1),
      sel$r AS (SELECT * FROM sel${r - 1} UNION ALL SELECT * FROM pk$r)""")
      }
      sb.append("""
      SELECT sel_rank, vec_id, rel, mmr FROM sel5 ORDER BY sel_rank""")
      sb.toString
    }
  )

  /** NDCG@10 of the IVF probe search against the exact cosine ranking —
    * the position-discounted companion to q_ivf_topk's recall_at_k
    * (recall says WHETHER the right vectors surfaced; NDCG says whether
    * they surfaced in the right ORDER). Probes ONE cell (vs q_ivf_topk's
    * two) so the metric exercises a genuinely degraded ranking rather
    * than certifying a trivial 1.0. Relevance of a returned vector
    * is graded by its exact rank (gain 10..1, 0 if outside the exact
    * top-10). Per-position DCG terms are fixed-pointed to integer ppm
    * (floor(gain·1e6/log2(pos+1) + 0.5)) BEFORE summing — an unordered
    * double sum would be partition-order-dependent; an integer sum is
    * not. One row: dcg_ppm, idcg_ppm, ndcg. */
  val qNdcg = GraftQuery(
    "q_ndcg",
    (s, dir) => {
      import s.implicits._
      import graft.operators.FixedPointKMeans
      val emb = graft.operators.Caches.register(Tables.embeddings(s, dir)
        .withColumn("embedding", $"embedding".cast("array<double>")))
      val q = emb.orderBy($"vec_id").limit(1)
        .select($"embedding").collect()(0).getSeq[Double](0)
      val quant = graft.operators.Caches.register(
        emb.select($"vec_id", $"embedding",
          FixedPointKMeans.quantize($"embedding").as("v")))
      val cents = FixedPointKMeans.fit(quant, "vec_id", "v", k = 8, rounds = 2)
      val qv = FixedPointKMeans.quantizeLocal(q)
      val cells = cents.map { case (j, c) =>
          (j, FixedPointKMeans.sqDistLocal(qv, c)) }
        .sortBy { case (j, d) => (d, j) }.take(1).map(_._1)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"cos_sim".desc, $"vec_id")
      val sys = FixedPointKMeans.assign(quant, "v", cents)
        .filter($"cluster".isin(cells: _*))
        .select($"vec_id",
          round(Similarity.cosineNative($"embedding", typedLit(q)), 6).as("cos_sim"))
        .withColumn("pos", row_number().over(w)).filter($"pos" <= 10)
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
        .withColumn("rank_ex", row_number().over(w))
      def termPpm(gain: org.apache.spark.sql.Column, pos: org.apache.spark.sql.Column) =
        floor(gain.cast("double") * lit(1000000.0) /
          (log(pos.cast("double") + lit(1.0)) / log(lit(2.0))) + lit(0.5))
          .cast("long")
      val dcg = sys.join(exact.select($"vec_id", $"rank_ex"), Seq("vec_id"), "left")
        .select(termPpm(coalesce(lit(11) - $"rank_ex", lit(0)), $"pos").as("t"))
        .agg(coalesce(sum($"t"), lit(0L)).as("dcg_ppm"))
      val idcg = exact
        .select(termPpm(lit(11) - $"rank_ex", $"rank_ex").as("t"))
        .agg(sum($"t").as("idcg_ppm"))
      dcg.crossJoin(idcg)
        .select($"dcg_ppm", $"idcg_ppm",
          round($"dcg_ppm".cast("double") / $"idcg_ppm".cast("double"), 6)
            .as("ndcg"))
    },
    Some {
      val cosine = """ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]), qd.qe) /
          (SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           SQRT(list_dot_product(qd.qe, qd.qe))), 6)"""
      s"""WITH ${CorpusStatsQueries.kmeansOracleCtes(8, 2)},
      qd AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings ORDER BY vec_id LIMIT 1),
      qq AS (SELECT v FROM q ORDER BY vec_id LIMIT 1),
      cellsel AS (SELECT c.j FROM c2 c, qq
        ORDER BY ${CorpusStatsQueries.kmeansDistSql("qq.v", "c.c")}, c.j LIMIT 1),
      cand AS (SELECT vec_id FROM a3 WHERE j IN (SELECT j FROM cellsel)),
      sys AS (SELECT vec_id, pos FROM (
          SELECT e.vec_id, $cosine AS cos_sim,
            ROW_NUMBER() OVER (ORDER BY $cosine DESC, e.vec_id) AS pos
          FROM embeddings e JOIN cand USING (vec_id), qd) t WHERE pos <= 10),
      exact AS (SELECT vec_id, rank_ex FROM (
          SELECT e.vec_id,
            ROW_NUMBER() OVER (ORDER BY $cosine DESC, e.vec_id) AS rank_ex
          FROM embeddings e, qd) t WHERE rank_ex <= 10),
      dcg AS (SELECT COALESCE(CAST(SUM(CAST(FLOOR(
            CAST(COALESCE(11 - x.rank_ex, 0) AS DOUBLE) * 1000000.0 /
              (LN(CAST(s.pos AS DOUBLE) + 1.0) / LN(2.0)) + 0.5) AS BIGINT)) AS BIGINT), 0)
          AS dcg_ppm
        FROM sys s LEFT JOIN exact x USING (vec_id)),
      idcg AS (SELECT CAST(SUM(CAST(FLOOR(
            CAST(11 - rank_ex AS DOUBLE) * 1000000.0 /
              (LN(CAST(rank_ex AS DOUBLE) + 1.0) / LN(2.0)) + 0.5) AS BIGINT)) AS BIGINT)
          AS idcg_ppm
        FROM exact)
      SELECT dcg_ppm, idcg_ppm,
        ROUND(CAST(dcg_ppm AS DOUBLE) / CAST(idcg_ppm AS DOUBLE), 6) AS ndcg
      FROM dcg, idcg"""
    }
  )

  /** One-row DATASET CARD for the document corpus — the summary block
    * every published training set ships (size, vocabulary, duplication,
    * language mix, quality): n_docs, token mass, exact vocabulary size,
    * exact-dup rate, English share, language-mix Shannon entropy, mean
    * quality and mean length. Composition of already-certified kernels;
    * every float lands through the house quantizations (per-language
    * entropy terms → integer nano units, per-doc quality → integer ppm)
    * so no unordered double sum exists anywhere in the row. */
  val qCorpusCard = GraftQuery(
    "q_corpus_card",
    (s, dir) => {
      import s.implicits._
      val docs = graft.operators.Caches.register(
        Tables.documents(s, dir).select($"doc_id", $"lang", $"text",
          TextAnalysis.tokens($"text").as("toks"),
          TextAnalysis.qualityScore($"text").as("q")))
      val base = docs.agg(
        count(lit(1)).as("n_docs"),
        sum(size($"toks").cast("long")).as("total_tokens"),
        countDistinct(md5($"text")).as("n_distinct_texts"),
        sum(when($"lang" === "en", 1L).otherwise(0L)).as("n_en"),
        sum(floor($"q" * lit(1000000.0) + lit(0.5)).cast("long")).as("q_ppm"))
      val vocab = docs.select(explode($"toks").as("tok"))
        .agg(countDistinct($"tok").as("vocab_size"))
      val ent = docs.groupBy($"lang").agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("nd"))))
        .select(floor(($"c".cast("double") / $"nd".cast("double")) *
          log($"nd".cast("double") / $"c".cast("double")) * lit(1.0e9) + lit(0.5))
          .cast("long").as("t"))
        .agg(sum($"t").as("ent_nano"))
      base.crossJoin(vocab).crossJoin(ent)
        .select($"n_docs", $"total_tokens", $"vocab_size",
          round(lit(1.0) - $"n_distinct_texts".cast("double") /
            $"n_docs".cast("double"), 6).as("dup_rate"),
          round($"n_en".cast("double") / $"n_docs".cast("double"), 6)
            .as("en_share"),
          round($"ent_nano".cast("double") / lit(1.0e9), 6).as("lang_entropy"),
          round($"q_ppm".cast("double") / $"n_docs".cast("double") /
            lit(1000000.0), 6).as("mean_quality"),
          round($"total_tokens".cast("double") / $"n_docs".cast("double"), 6)
            .as("mean_tokens"))
    },
    Some("""WITH t AS (SELECT doc_id, lang, text,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      mq AS (SELECT doc_id,
          CAST(LENGTH(text) AS DOUBLE) AS len,
          CAST(LEN(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for','on','with','as','was','at'))) AS DOUBLE) / GREATEST(LEN(toks), 1) AS stop_ratio,
          CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) / GREATEST(LENGTH(text), 1) AS punct_ratio
        FROM t),
      qs AS (SELECT doc_id,
          ROUND(LEAST(len / 50.0, 1.0) * (CASE WHEN len > 10000 THEN 0.5 ELSE 1.0 END) * 0.4
            + LEAST(stop_ratio * 4.0, 1.0) * 0.3
            + GREATEST(0.0, 1.0 - punct_ratio * 4.0) * 0.3, 6) AS q
        FROM mq),
      base AS (SELECT COUNT(*) AS n_docs,
          CAST(SUM(LEN(toks)) AS BIGINT) AS total_tokens,
          COUNT(DISTINCT md5(text)) AS n_distinct_texts,
          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
        FROM t),
      qp AS (SELECT CAST(SUM(CAST(FLOOR(q * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS q_ppm FROM qs),
      vocab AS (SELECT COUNT(DISTINCT tok) AS vocab_size
        FROM (SELECT unnest(toks) AS tok FROM t) u),
      ent AS (SELECT CAST(SUM(CAST(FLOOR(
            (CAST(c AS DOUBLE) / CAST(nd AS DOUBLE))
              * LN(CAST(nd AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000000.0 + 0.5)
            AS BIGINT)) AS BIGINT) AS ent_nano
        FROM (SELECT lang, COUNT(*) AS c FROM t GROUP BY 1) g,
          (SELECT COUNT(*) AS nd FROM t) n)
      SELECT base.n_docs, base.total_tokens, vocab.vocab_size,
        ROUND(1.0 - CAST(base.n_distinct_texts AS DOUBLE) / CAST(base.n_docs AS DOUBLE), 6)
          AS dup_rate,
        ROUND(CAST(base.n_en AS DOUBLE) / CAST(base.n_docs AS DOUBLE), 6) AS en_share,
        ROUND(CAST(ent.ent_nano AS DOUBLE) / 1000000000.0, 6) AS lang_entropy,
        ROUND(CAST(qp.q_ppm AS DOUBLE) / CAST(base.n_docs AS DOUBLE) / 1000000.0, 6)
          AS mean_quality,
        ROUND(CAST(base.total_tokens AS DOUBLE) / CAST(base.n_docs AS DOUBLE), 6)
          AS mean_tokens
      FROM base, qp, vocab, ent""")
  )

  /** Interpolated Kneser-Ney bigram probabilities (discount D = 3/4) for
    * the five most frequent contexts — the smoothing every production
    * n-gram LM ships (the continuation-count backoff is what separates
    * KN from the add-k smoothing of q_unigram_xent/q_bigram_xent).
    * Exact-rational form: with quarters 4·c keeping the discount
    * integral, P_KN(w₂|w₁) over common denominator 4·c(w₁)·T is
    * num = (4·c₁₂−3)·T + 3·N₁₊(w₁·)·N₁₊(·w₂), den = 4·c(w₁)·T
    * (T = distinct bigram types; 4c₁₂−3 ≥ 1 so the max(·,0) clamp never
    * binds on observed bigrams). Within a context the denominator is
    * constant, so the top-5 ranking happens on the INTEGER numerator —
    * no float enters until the final rounded divide. Scale shape: counts
    * are map-side-combined token rollups; the per-context top-5 is a
    * bounded window over the 5 filtered contexts' continuations. */
  val qKneserNey = GraftQuery(
    "q_kneser_ney",
    (s, dir) => {
      import s.implicits._
      val toks = TextAnalysis.tokens($"text")
      val prs = zip_with(
        slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))
      val bg = Tables.documents(s, dir)
        .filter(size(toks) >= 2)
        .select(explode(prs).as("p"))
        .select($"p.w1", $"p.w2")
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
      val ctxAll = bg.groupBy($"w1")
        .agg(sum($"c12").as("c1"), count(lit(1)).as("n1fw"))
      val ctx = ctxAll.orderBy($"c1".desc, $"w1").limit(5)
      val bw = bg.groupBy($"w2").agg(count(lit(1)).as("n1bw"))
      val t = bg.agg(count(lit(1)).as("tt"))
      val j = bg.join(broadcast(ctx), "w1").join(bw, "w2").crossJoin(broadcast(t))
        .withColumn("num",
          (dec38($"c12") * 4 - 3) * dec38($"tt") + dec38($"n1fw") * dec38($"n1bw") * 3)
        .withColumn("den", dec38($"c1") * 4 * dec38($"tt"))
      j.withColumn("rank", row_number().over(
          Window.partitionBy($"w1").orderBy($"num".desc, $"w2")))
        .filter($"rank" <= 5)
        .select($"w1", $"rank".cast(LongType).as("rank"), $"w2", $"c12",
          round($"num".cast(DoubleType) / $"den".cast(DoubleType), 6).as("p_kn"))
        .orderBy($"w1", $"rank")
    },
    Some("""WITH toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      e AS (SELECT u.b FROM (
          SELECT [array_to_string(ts[i+1:i+2], ' ') for i in range(0, LEN(ts)-1)] AS bs
          FROM toks WHERE LEN(ts) >= 2), UNNEST(bs) AS u(b)),
      bg AS (SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
        CAST(COUNT(*) AS HUGEINT) AS c12 FROM e GROUP BY 1, 2),
      ctxall AS (SELECT w1, SUM(c12) AS c1, CAST(COUNT(*) AS HUGEINT) AS n1fw
        FROM bg GROUP BY 1),
      ctx AS (SELECT * FROM ctxall ORDER BY c1 DESC, w1 LIMIT 5),
      bw AS (SELECT w2, CAST(COUNT(*) AS HUGEINT) AS n1bw FROM bg GROUP BY 1),
      t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS tt FROM bg),
      j AS (SELECT bg.w1, bg.w2, bg.c12,
          (bg.c12 * 4 - 3) * tt + ctx.n1fw * bw.n1bw * 3 AS num,
          ctx.c1 * 4 * tt AS den
        FROM bg JOIN ctx ON bg.w1 = ctx.w1 JOIN bw ON bg.w2 = bw.w2 CROSS JOIN t),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY num DESC, w2) AS rank
        FROM j)
      SELECT w1, CAST(rank AS BIGINT) AS rank, w2, CAST(c12 AS BIGINT) AS c12,
        ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS p_kn
      FROM r WHERE rank <= 5 ORDER BY w1, rank""")
  )

  /** Per-document character-distribution entropy, rolled up per source —
    * the binary/template junk detector every corpus ingester runs before
    * text models see the bytes: natural text sits near 3 nats of char
    * entropy, templated/repetitive content falls well below, and
    * compressed/binary junk pushes toward the alphabet maximum. Terms
    * (c/n)·ln(n/c) go through DECIMAL(18,12) before the per-doc sum
    * (the q_source_kl discipline — order-independent, ln's last-ulp
    * noise 6 digits under the rounding), and the low-entropy flag
    * compares the QUANTIZED decimal, so the count is engine-exact.
    * Scale shape: one (doc, char) rollup with a per-doc window over the
    * ≤alphabet-sized char relation; the corpus never sorts. */
  val qCharEntropy = GraftQuery(
    "q_char_entropy",
    (s, dir) => {
      import s.implicits._
      val chars = Tables.documents(s, dir)
        .select($"doc_id", $"source",
          explode(filter(split($"text", ""), c => c.rlike("\\S"))).as("ch"))
      val cc = chars.groupBy($"doc_id", $"source", $"ch").agg(count(lit(1)).as("c"))
        .withColumn("n", sum($"c").over(Window.partitionBy($"doc_id")))
      val docEnt = cc
        .withColumn("term", (($"c".cast(DoubleType) / $"n") *
          log($"n".cast(DoubleType) / $"c".cast(DoubleType)))
          .cast(DecimalType(18, 12)))
        .groupBy($"doc_id", $"source").agg(sum($"term").as("ent"))
      docEnt.groupBy($"source").agg(
          count(lit(1)).as("n_docs"),
          round(sum($"ent").cast(DoubleType) / count(lit(1)), 6).as("avg_entropy"),
          sum(when($"ent" < 2.5, 1L).otherwise(0L)).as("n_low_entropy"))
        .orderBy($"source")
    },
    Some("""WITH chars AS (SELECT doc_id, source,
        unnest(regexp_extract_all(text, '\S')) AS ch
      FROM documents),
      cc AS (SELECT doc_id, source, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3),
      cn AS (SELECT *, SUM(c) OVER (PARTITION BY doc_id) AS n FROM cc),
      de AS (SELECT doc_id, source,
          SUM(CAST((CAST(c AS DOUBLE) / n) *
            LN(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) AS DECIMAL(18,12))) AS ent
        FROM cn GROUP BY 1, 2)
      SELECT source, COUNT(*) AS n_docs,
        ROUND(CAST(SUM(ent) AS DOUBLE) / COUNT(*), 6) AS avg_entropy,
        CAST(SUM(CASE WHEN ent < 2.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_entropy
      FROM de GROUP BY 1 ORDER BY source""")
  )

  /** Monroe et al.'s "fightin' words": log-odds-ratio with an
    * informative Dirichlet prior between the first-10 and last-10
    * source groups, z-scored — the statistically-grounded answer to
    * "which tokens actually distinguish these corpora" (raw tf-idf and
    * PMI over-rank rare tokens; the Dirichlet prior α_w = α₀·p(w)
    * shrinks exactly those). δ_w = ln-odds difference with prior
    * pseudo-counts, z = δ/√(1/(y_a+α) + 1/(y_b+α)); top-10 per side.
    * All counts exact integers; δ and z are single identical float
    * expressions. Scale shape: token-keyed rollups (vocabulary-sized),
    * two TakeOrdered top-10s. */
  val qDistinctiveTerms = GraftQuery(
    "q_distinctive_terms",
    (s, dir) => {
      import s.implicits._
      val tok = Tables.documents(s, dir)
        .select((expr("cast(substring(source, 4) as int)") < 10).as("is_a"),
          explode(TextAnalysis.tokens($"text")).as("token"))
      val tc = tok.groupBy($"token").agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("ya"),
        sum(when($"is_a", 0L).otherwise(1L)).as("yb"))
      val tot = tc.agg(sum($"ya").as("na"), sum($"yb").as("nb"))
      val scored = tc.crossJoin(broadcast(tot))
        .withColumn("aw", lit(500.0) * ($"ya" + $"yb") / ($"na" + $"nb"))
        .withColumn("dlt",
          log(($"ya" + $"aw") / ($"na" + 500.0 - $"ya" - $"aw")) -
          log(($"yb" + $"aw") / ($"nb" + 500.0 - $"yb" - $"aw")))
        .withColumn("z", $"dlt" / sqrt(lit(1.0) / ($"ya" + $"aw") +
          lit(1.0) / ($"yb" + $"aw")))
      def side(df: org.apache.spark.sql.DataFrame, tag: String, asc: Boolean) = {
        val lim = (if (asc) df.orderBy($"z", $"token")
                   else df.orderBy($"z".desc, $"token")).limit(10)
        val w = if (asc) Window.orderBy($"z", $"token")
                else Window.orderBy($"z".desc, $"token")
        lim.withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("side", lit(tag))
      }
      side(scored, "A", asc = false).union(side(scored, "B", asc = true))
        .select($"side", $"rank", $"token", $"ya", $"yb", round($"z", 6).as("z"))
        .orderBy($"side", $"rank")
    },
    Some("""WITH tok AS (SELECT CAST(substring(source, 4) AS INT) < 10 AS is_a,
        unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> x <> '')) AS token
      FROM documents),
      tc AS (SELECT token,
          CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ya,
          CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS yb
        FROM tok GROUP BY 1),
      tot AS (SELECT CAST(SUM(ya) AS BIGINT) AS na, CAST(SUM(yb) AS BIGINT) AS nb
        FROM tc),
      sc AS (SELECT token, ya, yb,
          (LN((ya + aw) / (na + 500.0 - ya - aw)) -
           LN((yb + aw) / (nb + 500.0 - yb - aw))) /
          SQRT(1.0 / (ya + aw) + 1.0 / (yb + aw)) AS z
        FROM (SELECT tc.*, tot.na, tot.nb,
            500.0 * (ya + yb) / (na + nb) AS aw FROM tc, tot)),
      a AS (SELECT 'A' AS side, CAST(ROW_NUMBER() OVER (ORDER BY z DESC, token)
          AS BIGINT) AS rank, token, ya, yb, ROUND(z, 6) AS z
        FROM sc ORDER BY z DESC, token LIMIT 10),
      b AS (SELECT 'B' AS side, CAST(ROW_NUMBER() OVER (ORDER BY z, token)
          AS BIGINT) AS rank, token, ya, yb, ROUND(z, 6) AS z
        FROM sc ORDER BY z, token LIMIT 10)
      SELECT * FROM a UNION ALL SELECT * FROM b ORDER BY side, rank""")
  )

  /** Flesch readability rollup per source: reading-ease and grade-level
    * from the classic surface counts — words (the corpus tokenizer),
    * sentences (runs of `[.!?]`, floored at 1), syllables (vowel-group
    * runs, the standard dictionary-free heuristic). Per-doc scores are a
    * single double expression over integer counts, fixed-pointed to ppm
    * BEFORE the per-source average so the rollup is an integer sum (no
    * addition-order drift). hard_share = fraction below FRE 30 ("very
    * difficult"). Scale shape: one map-side pass into a |sources|-sized
    * rollup — no shuffle beyond the final groupBy. */
  val qReadability = GraftQuery(
    "q_readability",
    (s, dir) => {
      import s.implicits._
      val d = Tables.documents(s, dir)
        .select($"source",
          TextAnalysis.tokenCount($"text").cast(LongType).as("w"),
          greatest(coalesce(regexp_count($"text", lit("[.!?]+")), lit(0)), lit(1))
            .cast(LongType).as("sent"),
          coalesce(regexp_count(lower($"text"), lit("[aeiouy]+")), lit(0))
            .cast(LongType).as("syl"))
        .filter($"w" > 0)
        .withColumn("wd", $"w".cast(DoubleType))
        .withColumn("fre_ppm",
          floor((lit(206.835) - lit(1.015) * ($"wd" / $"sent".cast(DoubleType)) -
            lit(84.6) * ($"syl".cast(DoubleType) / $"wd")) * 1000000.0 + 0.5)
            .cast(LongType))
        .withColumn("fk_ppm",
          floor((lit(0.39) * ($"wd" / $"sent".cast(DoubleType)) +
            lit(11.8) * ($"syl".cast(DoubleType) / $"wd") - lit(15.59)) * 1000000.0 + 0.5)
            .cast(LongType))
      d.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          round(sum($"fre_ppm").cast(DoubleType) / count(lit(1)) / 1000000.0, 6)
            .as("avg_fre"),
          round(sum($"fk_ppm").cast(DoubleType) / count(lit(1)) / 1000000.0, 6)
            .as("avg_fk_grade"),
          round(sum(when($"fre_ppm" < 30000000L, 1L).otherwise(0L)).cast(DoubleType) /
            count(lit(1)), 6).as("hard_share"))
        .orderBy($"source")
    },
    Some("""WITH d AS (SELECT source,
        CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
          x -> x <> '')) AS BIGINT) AS w,
        CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS sent,
        CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS syl
      FROM documents),
      p AS (SELECT source,
        CAST(FLOOR((206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(sent AS DOUBLE)) -
          84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))) * 1000000.0 + 0.5)
          AS BIGINT) AS fre_ppm,
        CAST(FLOOR((0.39 * (CAST(w AS DOUBLE) / CAST(sent AS DOUBLE)) +
          11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59) * 1000000.0 + 0.5)
          AS BIGINT) AS fk_ppm
      FROM d WHERE w > 0)
      SELECT source, COUNT(*) AS n_docs,
        ROUND(CAST(SUM(fre_ppm) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_fre,
        ROUND(CAST(SUM(fk_ppm) AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS avg_fk_grade,
        ROUND(CAST(SUM(CASE WHEN fre_ppm < 30000000 THEN 1 ELSE 0 END) AS DOUBLE) /
          COUNT(*), 6) AS hard_share
      FROM p GROUP BY 1 ORDER BY source""")
  )

  /** RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    * maximal token runs between punctuation/stopword boundaries; a word
    * scores deg/freq (deg = Σ phrase length over its occurrences) and a
    * phrase scores the sum of its member word scores — top-15 phrases.
    * Word scores are fixed-pointed to ppm so the per-phrase sum is an
    * integer. Both engines run the identical two-step regex chain
    * (punctuation→'|', then stopword tokens→'|') before splitting.
    * Scale shape: phrase/word-keyed rollups (vocabulary-sized), one
    * token-keyed join, one TakeOrdered(15) — no cross products. */
  val qRakeKeywords = GraftQuery(
    "q_rake_keywords",
    (s, dir) => {
      import s.implicits._
      val stopAlt = TextAnalysis.Stopwords("en").mkString("|")
      val seg = Tables.documents(s, dir)
        .select(explode(split(
          regexp_replace(regexp_replace(lower($"text"), "[^a-z0-9 ]+", "|"),
            s"\\b($stopAlt)\\b", "|"), "\\|")).as("seg"))
        .select(trim(regexp_replace($"seg", " +", " ")).as("phrase"))
        .filter($"phrase" =!= "")
        .withColumn("wc", size(split($"phrase", " ")).cast(LongType))
        .filter($"wc" <= 4)
      val pf = graft.operators.Caches.register(
        seg.groupBy($"phrase", $"wc").agg(count(lit(1)).as("pfreq")))
      val occ = pf.select($"phrase", $"wc", $"pfreq",
        explode(split($"phrase", " ")).as("w"))
      val ws = occ.groupBy($"w")
        .agg(sum($"pfreq").as("freq"), sum($"pfreq" * $"wc").as("deg"))
        .select($"w",
          floor($"deg".cast(DoubleType) * 1000000.0 / $"freq".cast(DoubleType) + 0.5)
            .cast(LongType).as("wscore_ppm"))
      occ.join(ws, "w")
        .groupBy($"phrase", $"wc", $"pfreq")
        .agg(sum($"wscore_ppm").cast(LongType).as("score_ppm"))
        .orderBy($"score_ppm".desc, $"phrase").limit(15)
        .withColumn("rank",
          row_number().over(Window.orderBy($"score_ppm".desc, $"phrase")).cast(LongType))
        .select($"rank", $"phrase", $"wc".as("n_words"), $"pfreq".as("phrase_freq"),
          round($"score_ppm" / 1000000.0, 6).as("score"))
        .orderBy($"rank")
    },
    Some("""WITH seg AS (SELECT unnest(string_split(
        regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', '|', 'g'),
          '\b(the|a|of|and|to|in|is|that|it|for|on|with|as|was|at)\b', '|', 'g'),
        '|')) AS seg
      FROM documents),
      ph AS (SELECT phrase, CAST(len(string_split(phrase, ' ')) AS BIGINT) AS wc
        FROM (SELECT trim(regexp_replace(seg, ' +', ' ', 'g')) AS phrase FROM seg)
        WHERE phrase <> ''),
      pf AS (SELECT phrase, wc, COUNT(*) AS pfreq FROM ph WHERE wc <= 4 GROUP BY 1, 2),
      occ AS (SELECT phrase, wc, pfreq, unnest(string_split(phrase, ' ')) AS w FROM pf),
      ws AS (SELECT w, CAST(FLOOR(CAST(SUM(pfreq * wc) AS DOUBLE) * 1000000.0 /
          CAST(SUM(pfreq) AS DOUBLE) + 0.5) AS BIGINT) AS wscore_ppm
        FROM occ GROUP BY 1),
      sc AS (SELECT phrase, wc, pfreq, CAST(SUM(wscore_ppm) AS BIGINT) AS score_ppm
        FROM occ JOIN ws USING (w) GROUP BY 1, 2, 3)
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, phrase) AS BIGINT) AS rank,
        phrase, wc AS n_words, CAST(pfreq AS BIGINT) AS phrase_freq,
        ROUND(score_ppm / 1000000.0, 6) AS score
      FROM sc ORDER BY score_ppm DESC, phrase LIMIT 15""")
  )

  /** Multinomial naive Bayes source classifier: train on doc_id%5≠4,
    * Laplace-smoothed token likelihoods for the first-10 vs last-10
    * source groups, score the held-out fold, emit the confusion matrix.
    * Every log-likelihood is fixed-pointed to ppm at the token level, so
    * per-doc scores are integer sums (order-free) and the argmax tie
    * (sa+pa ≥ sb+pb, exact integers) is deterministic. Unseen test
    * tokens get the smoothed floor ln(1/(N_c+V)). Test docs with zero
    * alnum tokens drop in both engines (scores come from token
    * occurrences). Scale shape: token-keyed train rollup, one
    * broadcastable token→ppm relation joined to test occurrences, then a
    * doc-keyed rollup into 4 confusion cells. */
  val qNaiveBayes = GraftQuery(
    "q_naive_bayes",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id",
          (expr("cast(substring(source, 4) as int)") < 10).as("is_a"),
          TextAnalysis.tokens($"text").as("toks"))
      val occ = graft.operators.Caches.register(
        docs.select($"doc_id", $"is_a", ($"doc_id" % 5 === 4).as("is_test"),
          explode($"toks").as("token")))
      val tc = occ.filter(!$"is_test").groupBy($"token").agg(
        sum(when($"is_a", 1L).otherwise(0L)).as("ca"),
        sum(when($"is_a", 0L).otherwise(1L)).as("cb"))
      val tot = tc.agg(sum($"ca").cast(LongType).as("na"),
        sum($"cb").cast(LongType).as("nb"),
        count(lit(1)).cast(LongType).as("v"))
      val priP = docs.filter($"doc_id" % 5 =!= 4)
        .agg(sum(when($"is_a", 1L).otherwise(0L)).cast(LongType).as("da"),
          sum(when($"is_a", 0L).otherwise(1L)).cast(LongType).as("db"))
        .select(
          floor(log($"da".cast(DoubleType) / ($"da" + $"db").cast(DoubleType)) *
            1000000.0 + 0.5).cast(LongType).as("pa"),
          floor(log($"db".cast(DoubleType) / ($"da" + $"db").cast(DoubleType)) *
            1000000.0 + 0.5).cast(LongType).as("pb"))
      val ll = tc.crossJoin(broadcast(tot))
        .select($"token",
          floor(log(($"ca" + lit(1L)).cast(DoubleType) / ($"na" + $"v").cast(DoubleType)) *
            1000000.0 + 0.5).cast(LongType).as("lla"),
          floor(log(($"cb" + lit(1L)).cast(DoubleType) / ($"nb" + $"v").cast(DoubleType)) *
            1000000.0 + 0.5).cast(LongType).as("llb"))
      occ.filter($"is_test")
        .join(ll, Seq("token"), "left")
        .crossJoin(broadcast(tot))
        .select($"doc_id", $"is_a",
          coalesce($"lla",
            floor(log(lit(1.0) / ($"na" + $"v").cast(DoubleType)) * 1000000.0 + 0.5)
              .cast(LongType)).as("la"),
          coalesce($"llb",
            floor(log(lit(1.0) / ($"nb" + $"v").cast(DoubleType)) * 1000000.0 + 0.5)
              .cast(LongType)).as("lb"))
        .groupBy($"doc_id", $"is_a")
        .agg(sum($"la").as("sa"), sum($"lb").as("sb"))
        .crossJoin(broadcast(priP))
        .select($"is_a", ($"sa" + $"pa" >= $"sb" + $"pb").as("pred_a"))
        .select(when($"is_a", "A").otherwise("B").as("actual"),
          when($"pred_a", "A").otherwise("B").as("predicted"))
        .groupBy($"actual", $"predicted").agg(count(lit(1)).as("n_docs"))
        .orderBy($"actual", $"predicted")
    },
    Some("""WITH docs AS (SELECT doc_id,
        CAST(substring(source, 4) AS INT) < 10 AS is_a,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      occ AS (SELECT doc_id, is_a, doc_id % 5 = 4 AS is_test, unnest(toks) AS token
        FROM docs),
      tc AS (SELECT token,
          CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        FROM occ WHERE NOT is_test GROUP BY 1),
      tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
          CAST(COUNT(*) AS BIGINT) AS v FROM tc),
      prip AS (SELECT
          CAST(FLOOR(LN(CAST(da AS DOUBLE) / CAST(da + db AS DOUBLE)) * 1000000.0 + 0.5)
            AS BIGINT) AS pa,
          CAST(FLOOR(LN(CAST(db AS DOUBLE) / CAST(da + db AS DOUBLE)) * 1000000.0 + 0.5)
            AS BIGINT) AS pb
        FROM (SELECT CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS da,
            CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS db
          FROM docs WHERE doc_id % 5 <> 4)),
      ll AS (SELECT token,
          CAST(FLOOR(LN(CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE)) * 1000000.0 + 0.5)
            AS BIGINT) AS lla,
          CAST(FLOOR(LN(CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)) * 1000000.0 + 0.5)
            AS BIGINT) AS llb
        FROM tc, tot),
      sc AS (SELECT o.doc_id, o.is_a,
          CAST(SUM(COALESCE(l.lla,
            CAST(FLOOR(LN(1.0 / CAST(na + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)))
            AS BIGINT) AS sa,
          CAST(SUM(COALESCE(l.llb,
            CAST(FLOOR(LN(1.0 / CAST(nb + v AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)))
            AS BIGINT) AS sb
        FROM occ o LEFT JOIN ll l USING (token), tot
        WHERE o.is_test GROUP BY 1, 2),
      pred AS (SELECT CASE WHEN is_a THEN 'A' ELSE 'B' END AS actual,
          CASE WHEN sa + pa >= sb + pb THEN 'A' ELSE 'B' END AS predicted
        FROM sc, prip)
      SELECT actual, predicted, COUNT(*) AS n_docs
      FROM pred GROUP BY 1, 2 ORDER BY actual, predicted""")
  )

  val all: Seq[GraftQuery] = Seq(
    qKneserNey, qCharEntropy, qDistinctiveTerms,
    qReadability, qRakeKeywords, qNaiveBayes,
    qBm25, qMmrDiversify, qNdcg, qRrfFusion, qCorpusCard,
    qSharedSpans,
    qLshScurve, qLangPurity, qCcnetBuckets,
    qNgramNovelty, qRepeatedSpans, qApproxQuantiles, qBpeMerges, qBpeLearn,
    qBpeEncode, qWordpieceEncode, qUnigramTokenizer, qUnigramSoftEm, qUnigramEmRound,
    qUnigramEm3, qUnigramEmEncode,
    qDictEncode, qInvertedIndex,
    qTextStats, qLangId, qLangConfusion, qDedupExact, qJaccardPairs, qContainmentPairs, qBlockingRecall, qDedupComponents,
    qDedupSurvivors, qHeavyHitters, qCmsCounts, qContaminationBySource, qContaminationSpans,
    qSpanDedup, qSpanDedupVar,
    qUnigramXent, qBigramXent, qVocabCoverage,
    qDecontaminate, qRepetition, qBigramStats, qEmbedTopK, qMinhashPairs,
    qMinhashPrecision, qSimhashPairs,
    qAnnTopK, qEmbedDupPairs, qEmbedDupTables, qEmbedDupHr, qLshRecall,
    qSemanticDedup, qDeltaSemantic, qDeltaSemantic2b, qMidbandPairs, qMidbandSlice,
    qIntrinsicDim, qIvfTopK, qIvfTopKMp, qIvfProbeSweep,
    qApproxDistinct,
    qHllRollup, qAsofJoin,
    qRangeJoin, qKmvDistinct, qKmvIntersect, qQualityScore, qSourceSimilarity, qSourceOverlap,
    qTokenFertility)
}
