package graft.analytics

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Round-2 surface widening: the window-function family, CUBE grouping
  * sets, grouped exact quantiles, token counting with an oracle, a
  * heavy-hitter count per user, and a REAL Structured Streaming
  * query (AvailableNow) whose result is oracle-checked against the batch
  * SQL — the streaming and batch paths must agree row-for-row.
  */
object ExtendedQueries {

  import Agg.sumDec

  /** Ranking / offset / distribution window functions (rank, dense_rank,
    * lag, lead, ntile, percent_rank, cume_dist) per customer over order
    * history — the family the reference lacks entirely (§2.5 notes). One
    * shuffle on o_custkey; all seven functions share one window frame. */
  val qWindowFuncs = GraftQuery(
    "q_window_funcs",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      Tables.orders(s, dir)
        .filter($"o_custkey" <= 200)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"o_totalprice")
        .withColumn("rn", row_number().over(w))
        .withColumn("drk", dense_rank().over(w))
        .withColumn("prev_price", lag($"o_totalprice", 1).over(w))
        .withColumn("next_price", lead($"o_totalprice", 1).over(w))
        .withColumn("quartile", ntile(4).over(w))
        .withColumn("pct_rank", round(percent_rank().over(w), 6))
        .withColumn("cume", round(cume_dist().over(w), 6))
        .withColumn("order_date", date_format($"o_orderdate", "yyyy-MM-dd"))
        .drop("o_orderdate")
        .orderBy($"o_custkey", $"rn")
    },
    Some("""SELECT o_custkey, o_orderkey,
        STRFTIME(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice,
        ROW_NUMBER() OVER w AS rn,
        DENSE_RANK() OVER w AS drk,
        LAG(o_totalprice, 1) OVER w AS prev_price,
        LEAD(o_totalprice, 1) OVER w AS next_price,
        NTILE(4) OVER w AS quartile,
        ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
        ROUND(CUME_DIST() OVER w, 6) AS cume
      FROM orders WHERE o_custkey <= 200
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, rn""")
  )

  /** Full CUBE over status × priority (all four grouping sets) — the
    * grouping-sets family beyond q_rollup's hierarchy. */
  val qCube = GraftQuery(
    "q_cube",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .cube($"o_orderstatus", $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), sumDec($"o_totalprice").as("revenue"))
        .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
          coalesce($"o_orderpriority", lit("ALL")).as("priority"),
          $"n_orders", $"revenue")
        .orderBy($"status", $"priority")
    },
    Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority""")
  )

  /** Grouped exact quantiles — the ExactQuantiles aggregate in grouped
    * (partial + final) mode, one pass, one shuffle on the group key. */
  val qGroupQuantiles = GraftQuery(
    "q_group_quantiles",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .groupBy($"l_returnflag")
        .agg(graft.expressions.ExactQuantiles.quantiles(
          $"l_extendedprice", Seq(0.25, 0.5, 0.75)).as("qs"))
        .select($"l_returnflag",
          round(element_at($"qs", 1), 6).as("q1"),
          round(element_at($"qs", 2), 6).as("q2"),
          round(element_at($"qs", 3), 6).as("q3"))
        .orderBy($"l_returnflag")
    },
    Some("""SELECT l_returnflag,
        ROUND(QUANTILE_CONT(l_extendedprice, 0.25), 6) AS q1,
        ROUND(QUANTILE_CONT(l_extendedprice, 0.5), 6) AS q2,
        ROUND(QUANTILE_CONT(l_extendedprice, 0.75), 6) AS q3
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** F19 token report with a full oracle: explode tokens → count → top-30
    * (map-side partial agg; only (token, count) rows shuffle). */
  val qTopTokens = GraftQuery(
    "q_top_tokens",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select(explode(graft.functions.TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token").limit(30)
    },
    Some("""SELECT token, COUNT(*) AS n FROM (
        SELECT UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS token
        FROM documents) t
      GROUP BY token ORDER BY n DESC, token LIMIT 30""")
  )

  /** Heavy-hitter count per user: the plain GROUP BY the oracle runs.
    * The registered name stays; the query no longer salts. Spark's
    * partial aggregation already sends at most one row per map task and
    * user through the shuffle, so a hot user cannot swamp a reducer. A
    * salt stage is a second shuffle, and measured slower (steady 0.41 vs
    * 0.25 s at sf0.1, 3.1 vs 1.4 s on 1e7 rows with one user holding half
    * of them; CHANGES.md). */
  val qSaltedTopUsers = GraftQuery(
    "q_salted_top_users",
    (s, dir) => {
      import s.implicits._
      Tables.events(s, dir)
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"user_id").limit(10)
    },
    Some("""SELECT user_id, COUNT(*) AS n FROM events
      GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""")
  )

  /** The hourly rollup as a REAL Structured Streaming job: file source →
    * watermarked tumbling window → memory sink, Trigger.AvailableNow,
    * Complete mode (every window emits at end-of-stream). The oracle is
    * the same SQL as the batch q_events_hourly — streaming and batch must
    * agree exactly. */
  val qStreamHourly = GraftQuery(
    "q_stream_hourly",
    (s, dir) => {
      import s.implicits._
      val name = "stream_hourly_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val agg = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(count(lit(1)).as("n"), sumDec($"value", 6).as("sum_value"))
      graft.streaming.EventsStream
        .runAvailableNow(s, agg, name, checkpoint, OutputMode.Complete())
        .orderBy($"hour")
    },
    Some("""SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY hour""")
  )

  /** Streaming MERGE-upsert sink (foreachBatch): micro-batches fold into
    * a keyed parquet state table — per user the latest (ts, event_id)-
    * ordered value plus a running count — through
    * [[graft.streaming.EventsStream.runUpsert]]'s generation-swapped
    * read-merge-write. The oracle states the FOLD INVARIANT directly
    * (last event per user + count over the whole input); the 3-file
    * multi-batch equivalence is spec-pinned in SourcesStreamingSpec. */
  val qStreamUpsert = GraftQuery(
    "q_stream_upsert",
    (s, dir) => {
      import s.implicits._
      val name = "stream_upsert_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      graft.streaming.EventsStream
        .runUpsert(s, ev, name, checkpoint, Scratch.dir("stream_upsert", dir))
        .orderBy($"user_id")
    },
    Some("""WITH pu AS (SELECT user_id, ts, event_id, value,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events)
      SELECT user_id, ts AS last_ts, event_id AS last_event_id,
        value AS last_value, CAST(n AS BIGINT) AS n_events
      FROM pu WHERE rn = 1 ORDER BY user_id""")
  )

  /** Custom typed streaming state via the Spark 4 StatefulProcessor
    * (transformWithState) API over the RocksDB store — the successor of
    * flatMapGroupsWithState (q_stream_sessions covers that one): one
    * running-stats ValueState per user folded across micro-batches
    * (count, integer-cent sum, min/max, distinct type set). Every fold
    * is commutative, so the end-of-stream state equals the batch
    * GROUP BY — the oracle. See [[graft.streaming.UserStats]]. */
  val qStreamUserStats = GraftQuery(
    "q_stream_user_stats",
    (s, dir) => {
      import s.implicits._
      val name = "stream_user_stats_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      graft.streaming.UserStats.runningStats(s, ev, name, checkpoint)
        .orderBy($"user_id")
    },
    Some("""WITH c AS (SELECT user_id, event_type,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents FROM events)
      SELECT user_id, COUNT(*) AS n_events,
        CAST(SUM(cents) AS BIGINT) AS sum_cents,
        MIN(cents) AS min_cents, MAX(cents) AS max_cents,
        CAST(COUNT(DISTINCT event_type) AS INTEGER) AS n_types
      FROM c GROUP BY user_id ORDER BY user_id""")
  )

  /** Streaming per-user TOP-K through the transformWithState LIST
    * state primitive — bounded-heap state: at most k items per active
    * user in RocksDB no matter how long the stream runs (see
    * [[graft.streaming.TopKState]] for the emission protocol and the
    * associativity argument). The oracle is the batch window the
    * end-of-stream state must equal: ROW_NUMBER per user over
    * (integer-cent value DESC, event_id ASC), rank ≤ 3 — values
    * quantize to cents before the fold so the ordering ties are an
    * exact integer total order in both engines. */
  val qStreamTopk = GraftQuery(
    "q_stream_topk",
    (s, dir) => {
      import s.implicits._
      val name = "stream_topk_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      graft.streaming.TopKState.topK(s, ev, k = 3, name, checkpoint)
        .orderBy($"user_id", $"rank")
    },
    Some("""WITH c AS (SELECT user_id, event_id,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
        ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC, event_id) AS rank
      FROM events)
      SELECT user_id, rank, event_id, cents FROM c
      WHERE rank <= 3 ORDER BY user_id, rank""")
  )

  /** Streaming incremental dedup (D2) under AT-LEAST-ONCE delivery: the
    * same event files arrive on TWO source streams (every event delivered
    * twice — the redelivery pattern of any retrying ingester), and
    * watermarked dropDuplicatesWithinWatermark collapses them before a
    * Complete-mode rollup. State holds event keys only within the
    * 1-hour watermark horizon — bounded by arrival rate, not corpus
    * size. The oracle is the single-delivery batch rollup: streaming
    * dedup must make the double delivery invisible. */
  val qStreamDedup = GraftQuery(
    "q_stream_dedup",
    (s, dir) => {
      import s.implicits._
      val name = "stream_dedup_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      def src = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      val deduped = graft.streaming.EventsStream.dedupedEvents(src.unionByName(src))
      val agg = deduped
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"), sumDec($"value", 6).as("sum_value"))
      graft.streaming.EventsStream
        .runAvailableNow(s, agg, name, checkpoint, OutputMode.Complete())
        .orderBy($"event_type")
    },
    Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1 ORDER BY event_type""")
  )

  /** Stream-static enrichment join — the remaining core Structured
    * Streaming shape: a micro-batched event stream joined to a STATIC
    * broadcast dimension (no state, no watermark — the static side is
    * re-resolvable per batch), then a Complete-mode rollup. At scale
    * this is the ingest-enrich path: events land, pick up dimension
    * attributes map-side, and only (type, segment) aggregates hold
    * state. Oracle = the equivalent batch join, which streaming must
    * match exactly. */
  val qStreamEnrich = GraftQuery(
    "q_stream_enrich",
    (s, dir) => {
      import s.implicits._
      val name = "stream_enrich_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val cust = broadcast(Tables.customer(s, dir)
        .select($"c_custkey", $"c_mktsegment"))
      val agg = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .join(cust, $"user_id" === $"c_custkey")
        .groupBy($"event_type", $"c_mktsegment")
        .agg(count(lit(1)).as("n"), sumDec($"value", 6).as("sum_value"))
      graft.streaming.EventsStream
        .runAvailableNow(s, agg, name, checkpoint, OutputMode.Complete())
        .orderBy($"event_type", $"c_mktsegment")
    },
    Some("""SELECT event_type, c_mktsegment, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      FROM events JOIN customer ON user_id = c_custkey
      GROUP BY 1, 2 ORDER BY event_type, c_mktsegment""")
  )

  /** Exact k-NN join with a full DuckDB oracle (list_cosine_similarity):
    * 50 query vectors × the corpus, top-3 neighbours each. Ranking is on
    * the ROUNDED similarity in both engines so order can't diverge on
    * sub-1e-6 differences. Quadratic by design (the verification
    * baseline); the ANN/IVF queries are the scale path. */
  val qKnnJoin = GraftQuery(
    "q_knn_join",
    (s, dir) => {
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      val left = emb.filter($"vec_id" <= 50)
        .select($"vec_id".as("id_l"), $"v".as("vl"))
      val scored = left.crossJoin(emb.select($"vec_id".as("id_r"), $"v".as("vr")))
        .filter($"id_l" =!= $"id_r")
        .select($"id_l", $"id_r",
          round(graft.operators.Similarity.cosineNative($"vl", $"vr"), 6).as("cos_sim"))
      // TopKPerKey prunes the |queries|x|corpus| scored pairs to 3 per
      // query map-side; the rank window then runs over keys x 3 rows
      val w = Window.partitionBy($"id_l").orderBy($"cos_sim".desc, $"id_r")
      graft.plans.TopKPerKey.perKey(scored, Seq("id_l"),
          Seq(("cos_sim", false), ("id_r", true)), 3)
        .withColumn("rk", row_number().over(w))
        .orderBy($"id_l", $"rk")
    },
    Some("""WITH l AS (SELECT vec_id AS id_l, CAST(embedding AS DOUBLE[]) AS vl
                       FROM embeddings WHERE vec_id <= 50),
      r AS (SELECT vec_id AS id_r, CAST(embedding AS DOUBLE[]) AS vr FROM embeddings),
      sims AS (SELECT id_l, id_r, ROUND(list_cosine_similarity(vl, vr), 6) AS cos_sim
               FROM l CROSS JOIN r WHERE id_l <> id_r),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY id_l
                   ORDER BY cos_sim DESC, id_r) AS rk FROM sims)
      SELECT id_l, id_r, cos_sim, rk FROM ranked WHERE rk <= 3 ORDER BY id_l, rk""")
  )

  /** Winnowing-fingerprint candidate pairs in the PORTABLE hash family
    * (polynomial mod 1000000007): DuckDB reproduces the fingerprints, so
    * this is fully hash-oracled. The window-minimum SET is independent of
    * the kernel's rightmost-tie rule, so the SQL mirror is plain
    * distinct-of-window-minima. xxhash64 remains the production default
    * (property-tested in TextHashSpec). */
  val qWinnowPairs = GraftQuery(
    "q_winnow_pairs",
    (s, dir) => {
      import s.implicits._
      graft.operators.Dedup.winnowPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4, minShared = 2, maxDf = 100,
          portable = true)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH t AS (SELECT doc_id,
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
      sg AS (SELECT doc_id,
        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             ELSE list_transform(range(len(toks) - 2),
               i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) END AS shingles
      FROM t),
      hp AS (SELECT doc_id,
        list_transform(shingles, s ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(regexp_extract_all(s, '.'), c -> CAST(ord(c) AS BIGINT))),
            (acc, x) -> (acc * 31 + x) % 1000000007)) AS hv
      FROM sg),
      fps AS (SELECT doc_id,
        CASE WHEN len(hv) <= 4 THEN [list_min(hv)]
             ELSE list_distinct(list_transform(range(len(hv) - 3),
               w -> list_min(hv[w+1 : w+4]))) END AS fp
      FROM hp),
      e AS (SELECT doc_id, unnest(fp) AS fp FROM fps),
      kept AS (SELECT fp FROM e GROUP BY fp HAVING COUNT(*) <= 100),
      ek AS (SELECT e.doc_id, e.fp FROM e JOIN kept USING (fp)),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fp
        FROM ek a JOIN ek b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, shared_fp FROM p WHERE shared_fp >= 2
      ORDER BY id_a, id_b""")
  )

  /** F13 as a REAL MapType round-trip (the reference flattens its isq
    * attribute map to "k=v; k=v" strings because pandas/CSV can't hold a
    * map — we keep the map): build the flattened string, parse it back
    * with str_to_map, extract typed attributes. The oracle parses the
    * same string with regexes, so the MapType path is hash-checked. */
  val qMapExtract = GraftQuery(
    "q_map_extract",
    (s, dir) => {
      import s.implicits._
      Tables.part(s, dir)
        // ';' pair delimiter: '#' would collide with p_brand values
        // ("Brand#13") and split inside the value
        .withColumn("attrs", concat(
          lit("brand="), $"p_brand",
          lit(";size="), $"p_size".cast("string"),
          lit(";type="), $"p_type"))
        .withColumn("m", str_to_map($"attrs", lit(";"), lit("=")))
        .select($"p_partkey",
          element_at($"m", "brand").as("brand"),
          element_at($"m", "size").cast("int").as("size"),
          element_at($"m", "type").as("ptype"),
          size(map_keys($"m")).as("n_attrs"))
        .orderBy($"p_partkey")
    },
    Some("""WITH p AS (SELECT p_partkey,
        'brand=' || p_brand || ';size=' || CAST(p_size AS VARCHAR) ||
        ';type=' || p_type AS attrs FROM part)
      SELECT p_partkey,
        regexp_extract(attrs, 'brand=([^;]*)', 1) AS brand,
        CAST(regexp_extract(attrs, 'size=([^;]*)', 1) AS INTEGER) AS size,
        regexp_extract(attrs, 'type=([^;]*)', 1) AS ptype,
        CAST(LEN(string_split(attrs, ';')) AS INTEGER) AS n_attrs
      FROM p ORDER BY p_partkey""")
  )

  /** TPC-H Q5 shape (local-supplier volume): lineitem ⋈ orders ⋈
    * customer ⋈ supplier with the cross-dimension equality
    * c_nationkey = s_nationkey — a join topology none of the other
    * queries exercise (two dims constrained against each other). Dims
    * broadcast; facts meet in one SMJ on the order key. */
  val qLocalSupplier = GraftQuery(
    "q_local_supplier",
    (s, dir) => {
      import s.implicits._
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(Tables.customer(s, dir)), $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.supplier(s, dir)), $"l_suppkey" === $"s_suppkey" &&
          $"c_nationkey" === $"s_nationkey")
        .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("n_items"),
          Agg.revenueDec($"l_extendedprice", $"l_discount").as("revenue"))
        .orderBy($"n_name")
    },
    Some("""SELECT n_name, COUNT(*) AS n_items,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")
  )

  /** V1 distributed rule validation (etl.py:315-346 generalized): per-row
    * checks emit zero-or-more (key, issue) rows via one array build +
    * filter + explode — the vectorized replacement for the reference's
    * Python iterrows loop, rolled up to issue counts. */
  val qValidateRules = GraftQuery(
    "q_validate_rules",
    (s, dir) => {
      import s.implicits._
      val issues = array(
        when($"o_totalprice" <= 0, lit("nonpositive_price")),
        when($"o_totalprice" > 400000, lit("price_outlier")),
        when(!$"o_orderstatus".isin("O", "F", "P"), lit("bad_status")),
        when($"o_orderpriority".isNull, lit("missing_priority")),
        when(year($"o_orderdate") < 1992 || year($"o_orderdate") > 1998,
          lit("date_out_of_range")))
      Tables.orders(s, dir)
        .select($"o_orderkey", explode(filter(issues, c => c.isNotNull)).as("issue"))
        .groupBy($"issue").agg(count(lit(1)).as("n"))
        .orderBy($"issue")
    },
    Some("""WITH checks AS (SELECT o_orderkey, UNNEST(list_filter([
          CASE WHEN o_totalprice <= 0 THEN 'nonpositive_price' END,
          CASE WHEN o_totalprice > 400000 THEN 'price_outlier' END,
          CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 'bad_status' END,
          CASE WHEN o_orderpriority IS NULL THEN 'missing_priority' END,
          CASE WHEN YEAR(o_orderdate) < 1992 OR YEAR(o_orderdate) > 1998
               THEN 'date_out_of_range' END
        ], x -> x IS NOT NULL)) AS issue FROM orders)
      SELECT issue, COUNT(*) AS n FROM checks GROUP BY issue ORDER BY issue""")
  )

  /** Quality-aware exact dedup: per content fingerprint keep the BEST
    * representative (longest text, ties to the lowest id) via max_by with
    * a struct ordering — the keep-policy generalization of
    * q_dedup_exact's keep-min-id. One shuffle on the 16-byte fingerprint;
    * text never shuffles. */
  val qDedupBest = GraftQuery(
    "q_dedup_best",
    (s, dir) => {
      import s.implicits._
      Tables.documents(s, dir)
        .select($"doc_id", $"n_chars",
          graft.functions.TextAnalysis.fingerprint($"text").as("fingerprint"))
        .groupBy($"fingerprint")
        .agg(
          // struct ordering (largest n_chars, then smallest doc_id) — a
          // packed bigint would silently break once doc_id reaches the
          // pack factor; DuckDB mirrors with an ordered FIRST aggregate
          expr("max_by(doc_id, struct(n_chars, -doc_id))").as("keep_id"),
          max($"n_chars").cast(LongType).as("best_n_chars"),
          count(lit(1)).as("n_docs"))
        .orderBy($"fingerprint")
    },
    Some("""WITH f AS (SELECT doc_id, n_chars,
        md5(array_to_string(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                        x -> x <> ''), ' ')) AS fingerprint
      FROM documents)
      SELECT fingerprint,
        FIRST(doc_id ORDER BY n_chars DESC, doc_id) AS keep_id,
        CAST(MAX(n_chars) AS BIGINT) AS best_n_chars,
        COUNT(*) AS n_docs
      FROM f GROUP BY fingerprint ORDER BY fingerprint""")
  )

  /** TF-IDF top-3 terms per document — the classic relevance/quality
    * filter for training corpora: tf from one explode+groupBy, document
    * frequency from a second aggregate of the SAME tf relation (no
    * re-tokenization), idf joined back on the token key. Ranked on the
    * ROUNDED score in both engines. */
  val qTfidfTopTerms = GraftQuery(
    "q_tfidf_top_terms",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val total = docs.agg(count(lit(1)).as("n_docs"))
      val tf = docs
        .select($"doc_id", explode(graft.functions.TextAnalysis.tokens($"text")).as("token"))
        .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy($"token").agg(count(lit(1)).as("df"))
      // dfreq (the full vocabulary) is NOT broadcast-hinted: at corpus
      // scale it has millions of rows — the planner/AQE picks the join
      val scored = tf.join(dfreq, "token")
        .crossJoin(broadcast(total))
        .withColumn("tfidf", round($"tf" * log($"n_docs".cast(DoubleType) / $"df"), 6))
      // prune to 3 terms per doc with bounded heaps BEFORE the rank
      // window — the window then sorts docs x 3 rows, not every tf row
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
      graft.plans.TopKPerKey.perKey(scored, Seq("doc_id"),
          Seq(("tfidf", false), ("token", true)), 3)
        .withColumn("rk", row_number().over(w))
        .select($"doc_id", $"rk", $"token", $"tfidf")
        .orderBy($"doc_id", $"rk")
    },
    Some("""WITH toks AS (SELECT doc_id,
        UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '')) AS token FROM documents),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      total AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (SELECT doc_id, token,
          ROUND(tf * LN(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        FROM tf JOIN dfreq USING (token), total),
      ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, token) AS rk FROM scored)
      SELECT doc_id, rk, token, tfidf FROM ranked WHERE rk <= 3
      ORDER BY doc_id, rk""")
  )

  /** The custom whole-operator extension in the driver contract: top-3
    * orders per customer through graft.plans.TopKPerKey (bounded heaps,
    * partial phase prunes to ≤k rows per key BEFORE the shuffle) —
    * hash-checked against the ROW_NUMBER window formulation in DuckDB. */
  val qTopkPerKey = GraftQuery(
    "q_topk_per_key",
    (s, dir) => {
      import s.implicits._
      graft.plans.TopKPerKey.perKey(
          Tables.orders(s, dir), Seq("o_custkey"),
          Seq(("o_totalprice", false), ("o_orderkey", true)), k = 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, o_totalprice DESC, o_orderkey""")
  )

  /** The rank() member of the top-k idiom family: user-written
    * `rank() <= k` — boundary TIES KEPT, so a key can emit more than k
    * rows. The optimizer rule routes it through TopKPerKey in Rank mode
    * (plan-asserted in TopKPerKeySpec); the oracle is DuckDB's RANK()
    * window. Ranking on o_totalprice alone (no tiebreak) so equal-price
    * orders genuinely tie. */
  val qRankTopk = GraftQuery(
    "q_rank_topk",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
      Tables.orders(s, dir)
        .withColumn("rk", rank().over(w))
        .filter($"rk" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
        .orderBy($"o_custkey", $"o_totalprice".desc, $"o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              CAST(RANK() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC) AS INT) AS rk
            FROM orders) t
      WHERE rk <= 3 ORDER BY o_custkey, o_totalprice DESC, o_orderkey""")
  )

  /** The dense_rank() member of the idiom family: keep every order from
    * the top-2 DISTINCT order years per priority — heavy ties by
    * construction (a whole year shares one rank), routed through
    * TopKPerKey in Dense mode by the optimizer rule. */
  val qDenseTopk = GraftQuery(
    "q_dense_topk",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_orderpriority").orderBy($"yr".desc)
      Tables.orders(s, dir)
        .withColumn("yr", year($"o_orderdate"))
        .withColumn("rk", dense_rank().over(w))
        .filter($"rk" <= 2)
        .select($"o_orderpriority", $"o_orderkey", $"yr", $"rk")
        .orderBy($"o_orderpriority", $"yr".desc, $"o_orderkey")
    },
    Some("""SELECT o_orderpriority, o_orderkey, yr, rk
      FROM (SELECT o_orderpriority, o_orderkey,
              CAST(YEAR(o_orderdate) AS INT) AS yr,
              CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority
                ORDER BY CAST(YEAR(o_orderdate) AS INT) DESC) AS INT) AS rk
            FROM orders) t
      WHERE rk <= 2 ORDER BY o_orderpriority, yr DESC, o_orderkey""")
  )

  /** The WINDOW-ELISION member of the top-k idiom family
    * ([[graft.plans.TopKRewriteRule]] case 1): the user writes the
    * row_number() + filter idiom but never projects the rank column, so
    * the rule drops the Filter AND the Window entirely — the physical
    * plan is the bare TopKPerKey heap with NO rank sort and NO window
    * materialization at all (PlanAuditSpec pins exactly that: a
    * TopKPerKey node, zero Window/WindowGroupLimit nodes). The strongest
    * form of the rewrite, impossible for Spark's builtin
    * InferWindowGroupLimit, which must keep the window to evaluate the
    * filter. Oracle: the plain ROW_NUMBER subquery — identical rows, so
    * the elision is also hash-gated. */
  val qTopkElide = GraftQuery(
    "q_topk_elide",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
              ROW_NUMBER() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""")
  )

  /** Custom streaming STATE in the contract: flatMapGroupsWithState
    * sessionization (30-min gap) run as a real streaming job. In a
    * single AvailableNow batch exactly the gap-CLOSED sessions emit —
    * each user's final session stays in state — so the oracle is the
    * batch sessionization minus every user's last session. Streaming
    * state semantics, hash-checked.
    *
    * PRECONDITION for the oracle equality: the source is ONE file (one
    * micro-batch). Multi-file AvailableNow runs process files in
    * modification-time order — events arriving a batch late merge into
    * open sessions (extending them backwards) but cannot split an
    * already-emitted session, so heavily out-of-order file sets can
    * diverge from the batch-window formulation. */
  val qStreamSessions = GraftQuery(
    "q_stream_sessions",
    (s, dir) => {
      import s.implicits._
      val name = "stream_sessions_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      val sess = graft.streaming.Sessionize.sessions(
        ev.select($"user_id", $"ts"), withTimeout = false)
      graft.streaming.EventsStream
        .runAvailableNow(s, sess.toDF(), name, checkpoint, OutputMode.Append())
        .select($"user_id",
          date_format($"session_start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format($"session_end", "yyyy-MM-dd HH:mm:ss").as("session_end"),
          $"n_events")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events),
      se AS (SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g),
      per AS (SELECT user_id, session_idx,
          STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
          STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
          COUNT(*) AS n_events
        FROM se GROUP BY user_id, session_idx),
      withmax AS (SELECT *, MAX(session_idx) OVER (PARTITION BY user_id) AS max_idx FROM per)
      SELECT user_id, session_start, session_end, n_events
      FROM withmax WHERE session_idx < max_idx
      ORDER BY user_id, session_start""")
  )

  /** Built-in `session_window` aggregation as the SECOND sessionization
    * path (the first is Sessionize's hand-rolled flatMapGroupsWithState):
    * Spark merges per-user event windows within a 30-min gap natively,
    * and append mode emits a session once the GLOBAL watermark passes
    * its end (= last event + gap). ADJACENT windows coalesce: an event
    * at EXACTLY the gap extends the session (split is strictly >gap,
    * same as Sessionize — pinned empirically in SourcesStreamingSpec,
    * since microsecond corpus timestamps never hit the boundary and the
    * oracle alone would tolerate either convention). With a 0-second
    * delay the final AvailableNow
    * watermark is the corpus max ts, so the oracle is the batch islands
    * computation gated on s_last + gap <= max(ts) — sessions still open
    * at the frontier stay in state, exactly like q_stream_sessions.
    * Same single-file precondition as q_stream_sessions. */
  val qStreamSessionWindow = GraftQuery(
    "q_stream_session_window",
    (s, dir) => {
      import s.implicits._
      val name = "stream_sw_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .withWatermark("ts", "0 seconds")
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
      graft.streaming.EventsStream
        .runAvailableNow(s, ev, name, checkpoint, OutputMode.Append())
        .select($"user_id",
          date_format($"session_window.start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format($"session_window.end", "yyyy-MM-dd HH:mm:ss").as("session_end"),
          $"n_events")
        .orderBy($"user_id", $"session_start")
    },
    Some("""WITH mx AS (SELECT MAX(ts) AS wm FROM events),
      g AS (SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events),
      se AS (SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g),
      per AS (SELECT user_id, session_idx, MIN(ts) AS s_start, MAX(ts) AS s_last,
          COUNT(*) AS n_events
        FROM se GROUP BY user_id, session_idx)
      SELECT user_id, STRFTIME(s_start, '%Y-%m-%d %H:%M:%S') AS session_start,
        STRFTIME(s_last + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        n_events
      FROM per, mx WHERE s_last + INTERVAL 30 MINUTE <= wm
      ORDER BY user_id, session_start""")
  )

  /** STREAM-STREAM interval join: view→click attribution — each view
    * joined to the same user's clicks within the following 30 minutes.
    * Both sides are watermarked and the join condition bounds the time
    * range, so state for either side is dropped once the other side's
    * watermark passes the range — the canonical bounded-state
    * stream-stream join. Inner joins emit eagerly per micro-batch;
    * with AvailableNow over the finite input the emitted set equals the
    * batch join, which is exactly what the oracle checks (ts compared
    * at the stream's microsecond precision on both sides). */
  val qStreamJoin = GraftQuery(
    "q_stream_join",
    (s, dir) => {
      import s.implicits._
      val name = "stream_join_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val views = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id", $"ts".as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val clicks = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = views.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" >= $"v_ts" && $"c_ts" <= $"v_ts" + expr("interval 30 minutes"))
      graft.streaming.EventsStream
        .runAvailableNow(s, joined, name, checkpoint, OutputMode.Append())
        .select($"view_id", $"click_id", $"user_id",
          date_format($"v_ts", "yyyy-MM-dd HH:mm:ss").as("v_ts"))
        .orderBy($"view_id", $"click_id")
    },
    Some("""SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
      FROM events v JOIN events c ON v.user_id = c.user_id
        AND v.event_type = 'view' AND c.event_type = 'click'
        AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
      ORDER BY view_id, click_id""")
  )

  /** Watermarked stream-stream LEFT OUTER interval join: views with no
    * click within 30 minutes surface as null-click rows — but only once
    * the watermark passes their state-eviction boundary (outer emission
    * is an EVICTION byproduct in Structured Streaming, not a per-batch
    * result; the terminal no-data micro-batch flushes it). The emitted
    * set near the watermark frontier is therefore time-of-run dependent,
    * so BOTH engines restrict to views at least 3h30m older than the max
    * event time (2h delay + 30m range + 1h safety) — every such view is
    * guaranteed evicted, making the streaming result row-for-row equal
    * to the batch left join under the same cutoff. The cutoff is a
    * 1-row broadcast from the static table, never a collect. */
  val qStreamOuterJoin = GraftQuery(
    "q_stream_outer_join",
    (s, dir) => {
      import s.implicits._
      val name = "stream_outer_join_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val views = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter($"event_type" === "view")
        .select($"event_id".as("view_id"), $"user_id", $"ts".as("v_ts"))
        .withWatermark("v_ts", "2 hours")
      val clicks = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter($"event_type" === "click")
        .select($"event_id".as("click_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
        .withWatermark("c_ts", "2 hours")
      val joined = views.join(clicks,
        $"user_id" === $"c_user" &&
          $"c_ts" >= $"v_ts" && $"c_ts" <= $"v_ts" + expr("interval 30 minutes"),
        "left_outer")
      // the GLOBAL watermark is the MIN of the two sides' watermarks —
      // a side whose stream ends early (here: clicks stop hours before
      // views at small SF) stalls eviction for BOTH sides. So the
      // determinism cutoff must key on the min per-side max, not the
      // overall max: cutoff = least(max v_ts, max c_ts) − delay(2h)
      // − range(30m) − 1m strictness guard. (The earlier overall-max
      // formulation silently included one unevicted view at sf0.001.)
      val cutoff = Tables.events(s, dir)
        .agg(least(
          max(when($"event_type" === "view", $"ts")),
          max(when($"event_type" === "click", $"ts"))).as("m"))
        .select(($"m" - expr("interval 2 hours 31 minutes")).as("cutoff"))
      graft.streaming.EventsStream
        .runAvailableNow(s, joined, name, checkpoint, OutputMode.Append())
        .crossJoin(broadcast(cutoff))
        .filter($"v_ts" <= $"cutoff")
        .select($"view_id", $"click_id", $"user_id",
          date_format($"v_ts", "yyyy-MM-dd HH:mm:ss").as("v_ts"))
        .orderBy($"view_id", $"click_id")
    },
    Some("""WITH cut AS (SELECT LEAST(
          MAX(CASE WHEN event_type = 'view' THEN CAST(ts AS TIMESTAMP) END),
          MAX(CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END))
          - INTERVAL '2 hours 31 minutes' AS cutoff
        FROM events)
      SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
        STRFTIME(v.ts, '%Y-%m-%d %H:%M:%S') AS v_ts
      FROM events v LEFT JOIN events c ON v.user_id = c.user_id
        AND c.event_type = 'click'
        AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
      CROSS JOIN cut
      WHERE v.event_type = 'view' AND CAST(v.ts AS TIMESTAMP) <= cutoff
      ORDER BY view_id, click_id""")
  )

  /** MERGE-INTO semantics on plain parquet: apply a CDC batch (updates
    * + inserts) to a base table via full-outer join + coalesce — the
    * upsert pattern for stores without a transactional table format.
    * The CDC batch is synthesized deterministically in both engines:
    * every 10th order flips status and reprices (update), every 97th
    * key spawns a new order id beyond the base domain (insert). One
    * shuffle on the merge key; with both sides bucketed by the key
    * (Skew.writeBucketed) even that goes away. Update math runs in
    * DECIMAL so repricing is exact in both engines. */
  val qMergeUpsert = GraftQuery(
    "q_merge_upsert",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{DecimalType, DoubleType}
      val base = Tables.orders(s, dir)
        .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
      val updates = base.filter($"o_orderkey" % 10 === 0)
        .select($"o_orderkey".as("u_key"), lit("X").as("u_status"),
          round($"o_totalprice".cast(DecimalType(18, 2)) * lit(1.1).cast(DecimalType(3, 1)), 2)
            .cast(DoubleType).as("u_price"))
      val inserts = base.filter($"o_orderkey" % 97 === 0)
        .select(($"o_orderkey" + 10000000L).as("u_key"), lit("N").as("u_status"),
          lit(100.0).as("u_price"))
      val cdc = updates.unionAll(inserts)
      base.join(cdc, $"o_orderkey" === $"u_key", "full_outer")
        .select(
          coalesce($"o_orderkey", $"u_key").as("o_orderkey"),
          coalesce($"u_status", $"o_orderstatus").as("o_orderstatus"),
          coalesce($"u_price", $"o_totalprice").as("o_totalprice"),
          $"u_key".isNotNull.cast("int").as("was_upserted"))
        .orderBy($"o_orderkey")
    },
    Some("""WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      cdc AS (
        SELECT o_orderkey AS u_key, 'X' AS u_status,
          CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)), 2) AS DOUBLE) AS u_price
        FROM base WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 10000000 AS u_key, 'N' AS u_status, 100.0 AS u_price
        FROM base WHERE o_orderkey % 97 = 0)
      SELECT COALESCE(o_orderkey, u_key) AS o_orderkey,
        COALESCE(u_status, o_orderstatus) AS o_orderstatus,
        COALESCE(u_price, o_totalprice) AS o_totalprice,
        CAST(u_key IS NOT NULL AS INT) AS was_upserted
      FROM base FULL OUTER JOIN cdc ON o_orderkey = u_key
      ORDER BY o_orderkey""")
  )

  /** Unpivot/melt (the reshape inverse of q_pivot_status): wide
    * per-priority status counts back to long (priority, status, n) rows
    * via stack — completes the pivot/unpivot reshape family. */
  val qUnpivot = GraftQuery(
    "q_unpivot",
    (s, dir) => {
      import s.implicits._
      val wide = Tables.orders(s, dir)
        .groupBy($"o_orderpriority")
        .agg(
          sum(when($"o_orderstatus" === "O", 1).otherwise(0)).cast(LongType).as("n_open"),
          sum(when($"o_orderstatus" === "F", 1).otherwise(0)).cast(LongType).as("n_filled"),
          sum(when($"o_orderstatus" === "P", 1).otherwise(0)).cast(LongType).as("n_pending"))
      wide.select($"o_orderpriority", expr(
          "stack(3, 'O', n_open, 'F', n_filled, 'P', n_pending) AS (status, n)"))
        .orderBy($"o_orderpriority", $"status")
    },
    Some("""WITH wide AS (SELECT o_orderpriority,
        CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
      FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, s.status, s.n
      FROM wide, LATERAL (VALUES ('O', n_open), ('F', n_filled), ('P', n_pending)) AS s(status, n)
      ORDER BY o_orderpriority, status""")
  )

  /** Explicit GROUPING SETS with grouping() markers — the general form
    * beneath rollup/cube: three hand-picked sets (status, priority,
    * grand total), the marker columns distinguishing real NULLs from
    * aggregation NULLs. */
  val qGroupingSets = GraftQuery(
    "q_grouping_sets",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .createOrReplaceTempView("orders_gs")
      s.sql("""SELECT
          COALESCE(o_orderstatus, 'ALL') AS status,
          COALESCE(o_orderpriority, 'ALL') AS priority,
          CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
          COUNT(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    },
    Some("""SELECT
        COALESCE(o_orderstatus, 'ALL') AS status,
        COALESCE(o_orderpriority, 'ALL') AS priority,
        CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
        COUNT(*) AS n
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority""")
  )

  /** first_value / last_value / nth_value with an explicit full-frame —
    * the frame-sensitive window family q_window_funcs doesn't cover. */
  val qFirstLast = GraftQuery(
    "q_first_last",
    (s, dir) => {
      import s.implicits._
      val full = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .filter($"o_custkey" <= 100)
        .withColumn("first_price", first($"o_totalprice").over(full))
        .withColumn("last_price", last($"o_totalprice").over(full))
        .withColumn("second_price", nth_value($"o_totalprice", 2).over(full))
        .select($"o_custkey", $"o_orderkey", $"o_totalprice",
          $"first_price", $"last_price", $"second_price")
        .orderBy($"o_custkey", $"o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        FIRST_VALUE(o_totalprice) OVER w AS first_price,
        LAST_VALUE(o_totalprice) OVER w AS last_price,
        NTH_VALUE(o_totalprice, 2) OVER w AS second_price
      FROM orders WHERE o_custkey <= 100
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY o_custkey, o_orderkey""")
  )

  /** Ordered array / string aggregation (collect + sort, rendered as a
    * joined string for engine-neutral comparison). */
  val qArrayAgg = GraftQuery(
    "q_array_agg",
    (s, dir) => {
      import s.implicits._
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name")
        .agg(
          array_join(sort_array(collect_list($"n_name")), ",").as("nations"),
          count(lit(1)).as("n"))
        .orderBy($"r_name")
    },
    Some("""SELECT r_name,
        array_to_string(list_sort(list(n_name)), ',') AS nations,
        COUNT(*) AS n
      FROM nation JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name""")
  )

  /** Sample standard deviation / variance (same Bessel-corrected
    * definition in both engines; rounded for float-path differences). */
  val qStats = GraftQuery(
    "q_stats",
    (s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .groupBy($"o_orderstatus")
        .agg(
          round(stddev_samp($"o_totalprice"), 4).as("sd"),
          round(var_samp($"o_totalprice") / 1e6, 4).as("var_m"),
          count(lit(1)).as("n"))
        .orderBy($"o_orderstatus")
    },
    Some("""SELECT o_orderstatus,
        ROUND(STDDEV_SAMP(o_totalprice), 4) AS sd,
        ROUND(VAR_SAMP(o_totalprice) / 1e6, 4) AS var_m,
        COUNT(*) AS n
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** Entity-resolution fuzzy match over customer names: levenshtein ≤ 1
    * pairs under prefix blocking (tail-edit duplicates — the dominant
    * class for serial-numbered registries). Both the blocking decision
    * AND the edit-distance verify are integer-deterministic, so the
    * whole operator is under the hash gate. */
  val qFuzzyMatch = GraftQuery(
    "q_fuzzy_match",
    (s, dir) => {
      import s.implicits._
      graft.operators.FuzzyMatch.nameDupPairs(
          Tables.customer(s, dir), "c_custkey", "c_name",
          maxDist = 1, tailDrop = 2)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH c AS (SELECT c_custkey, c_name,
        substring(c_name, 1, GREATEST(length(c_name) - 2, 1)) AS blk
      FROM customer WHERE c_name IS NOT NULL),
      kept AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 10000),
      b AS (SELECT c.* FROM c JOIN kept USING (blk))
      SELECT a.c_custkey AS id_a, d.c_custkey AS id_b,
        a.c_name AS name_a, d.c_name AS name_b,
        CAST(levenshtein(a.c_name, d.c_name) AS INT) AS dist
      FROM b a JOIN b d ON a.blk = d.blk AND a.c_custkey < d.c_custkey
      WHERE levenshtein(a.c_name, d.c_name) <= 1
      ORDER BY id_a, id_b""")
  )

  /** The complementary q-GRAM blocking pass over the same registry
    * (FuzzyMatch.nameDupPairsQgram): full recall on head/mid/tail
    * single-edit classes for names ≥ 6 chars (the q-gram count bound),
    * modulo the df-cap on template grams — on `Customer#000...` names
    * the shared-template grams are degenerate and the discriminative
    * digit grams survive. The oracle replays gram explode, cap, DISTINCT
    * candidates and the levenshtein verify. */
  val qFuzzyQgram = GraftQuery(
    "q_fuzzy_qgram",
    (s, dir) => {
      import s.implicits._
      graft.operators.FuzzyMatch.nameDupPairsQgram(
          Tables.customer(s, dir), "c_custkey", "c_name",
          maxDist = 1, q = 3, maxBlock = 100)
        .orderBy($"id_a", $"id_b")
    },
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS name
        FROM customer WHERE c_name IS NOT NULL),
      g AS (SELECT id, name, unnest(list_distinct(list_transform(
          range(1, GREATEST(length(name) - 2, 1) + 1),
          i -> substring(name, i, 3)))) AS blk FROM c),
      kept AS (SELECT blk FROM g GROUP BY blk HAVING COUNT(*) <= 100),
      b AS (SELECT g.* FROM g JOIN kept USING (blk)),
      cand AS (SELECT DISTINCT a.id AS id_a, d.id AS id_b,
          a.name AS name_a, d.name AS name_b
        FROM b a JOIN b d ON a.blk = d.blk AND a.id < d.id)
      SELECT id_a, id_b, name_a, name_b,
        CAST(levenshtein(name_a, name_b) AS INT) AS dist
      FROM cand WHERE levenshtein(name_a, name_b) <= 1
      ORDER BY id_a, id_b""")
  )

  /** Contiguous global row ids (0..N-1) in o_orderkey order, via the
    * range-partition + per-partition-offset enumeration of
    * [[graft.operators.Ids.contiguousRowIds]] — the scalable replacement
    * for a single-partition global-window row_number. Verified against
    * the oracle's row_number over the full 15k-row table, so the
    * CONTIGUITY AND ORDER of the distributed enumeration (8 range
    * partitions at sf0.01) are both under the hash gate. */
  val qContiguousIds = GraftQuery(
    "q_contiguous_ids",
    (s, dir) => {
      import s.implicits._
      graft.operators.Ids.contiguousRowIds(
          Tables.orders(s, dir).select($"o_orderkey"),
          Seq($"o_orderkey"), numPartitions = 8)
        .orderBy($"row_id")
    },
    Some("""SELECT CAST(row_number() OVER (ORDER BY o_orderkey) - 1 AS BIGINT) AS row_id,
        o_orderkey
      FROM orders ORDER BY row_id""")
  )

  /** Quantile normalization (midrank percentile transform) of order
    * totals — the feature-scaling step that maps any distribution onto
    * [0,1] — WITHOUT the global `percent_rank()` window (a single-
    * partition sort of the corpus, the 100 TB anti-pattern). The
    * cumulative front runs over the DISTINCT-value relation (domain-
    * sized; same trick as q_pareto / q_vocab_coverage) and the verdict
    * broadcasts back onto the corpus, which is scanned once and never
    * globally sorted. pct = (2·below + ties + 1) / 2N from exact integer
    * counts — one integer-over-integer division per row, engine-exact.
    * Ties by construction share one percentile (the midrank), which the
    * window formulation only achieves with an extra average-over-ties
    * pass. */
  val qQuantileNormalize = GraftQuery(
    "q_quantile_normalize",
    (s, dir) => {
      import s.implicits._
      val ord = Tables.orders(s, dir)
      val vc = ord.groupBy($"o_totalprice".as("v")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.orderBy($"v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val fronts = vc
        .withColumn("below", coalesce(sum($"cnt").over(w), lit(0L)))
      val n = ord.agg(count(lit(1)).as("n"))
      ord.select($"o_orderkey", $"o_totalprice")
        .join(broadcast(fronts.select($"v".as("o_totalprice"), $"below", $"cnt")),
          "o_totalprice")
        .crossJoin(broadcast(n))
        .select($"o_orderkey", $"o_totalprice",
          round((lit(2) * $"below" + $"cnt" + 1).cast("double") / (lit(2) * $"n"), 6)
            .as("pct_rank"))
        .orderBy($"o_orderkey")
    },
    Some("""WITH vc AS (SELECT o_totalprice AS v, COUNT(*) AS cnt
        FROM orders GROUP BY o_totalprice),
      fronts AS (SELECT v, cnt,
        COALESCE(CAST(SUM(cnt) OVER (ORDER BY v
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS below
      FROM vc),
      n AS (SELECT COUNT(*) AS n FROM orders)
      SELECT o_orderkey, o_totalprice,
        ROUND(CAST(2 * below + cnt + 1 AS DOUBLE) / (2 * n.n), 6) AS pct_rank
      FROM orders JOIN fronts ON fronts.v = o_totalprice, n
      ORDER BY o_orderkey""")
  )

  /** WEIGHTED median (and quartiles) of extended price weighted by
    * quantity, per return flag — the order statistic where each row
    * counts `weight` times (revenue-weighted price centers, token-
    * weighted doc stats). No global or per-group corpus sort: weights
    * roll up per DISTINCT (flag, value) first (the q_quantile_normalize
    * trick), the cumulative front runs over that domain-sized relation,
    * and the quantile is the first value whose front covers the target
    * — exact integer-cents arithmetic end to end (2·cum ≥ q·tot cross-
    * multiplied, no derived floats). */
  val qWeightedMedian = GraftQuery(
    "q_weighted_median",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .select($"l_returnflag".as("flag"), $"l_extendedprice".as("v"),
          round($"l_quantity" * 100).cast("long").as("w"))
      val vc = li.groupBy($"flag", $"v").agg(sum($"w").as("wv"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy($"flag").orderBy($"v")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val fronts = vc.withColumn("cum", sum($"wv").over(win))
      val tot = vc.groupBy($"flag").agg(sum($"wv").as("tot"))
      def firstAt(q: Int, name: String) =
        min(when(lit(4) * $"cum" >= lit(q) * $"tot", $"v")).as(name)
      fronts.join(broadcast(tot), "flag")
        .groupBy($"flag")
        .agg(firstAt(1, "wq1"), firstAt(2, "wmedian"), firstAt(3, "wq3"))
        .orderBy($"flag")
    },
    Some("""WITH li AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
          CAST(ROUND(l_quantity * 100) AS BIGINT) AS w FROM lineitem),
      vc AS (SELECT flag, v, CAST(SUM(w) AS BIGINT) AS wv
        FROM li GROUP BY flag, v),
      fronts AS (SELECT flag, v, wv,
          CAST(SUM(wv) OVER (PARTITION BY flag ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM vc),
      tot AS (SELECT flag, CAST(SUM(wv) AS BIGINT) AS tot FROM vc GROUP BY flag)
      SELECT f.flag,
        MIN(CASE WHEN 4 * f.cum >= 1 * t.tot THEN f.v END) AS wq1,
        MIN(CASE WHEN 4 * f.cum >= 2 * t.tot THEN f.v END) AS wmedian,
        MIN(CASE WHEN 4 * f.cum >= 3 * t.tot THEN f.v END) AS wq3
      FROM fronts f JOIN tot t ON f.flag = t.flag
      GROUP BY f.flag ORDER BY f.flag""")
  )

  /** Jaro-Winkler record-linkage ACCURACY experiment through the native
    * codegen'd [[graft.expressions.JaroWinkler]] expression (Spark has
    * levenshtein built in but no JW — the prefix-weighted,
    * transposition-tolerant similarity record linkage actually uses).
    * Each customer name gets a keyed adjacent-digit TRANSPOSITION (the
    * exact error class JW was designed for: levenshtein charges it 2,
    * JW barely moves); the corrupted name is then scored against its
    * true source and against the next customer's name as a decoy, and
    * the summary row reports how often JW ranks truth above decoy.
    * The oracle rebuilds the identical corruption and scores with
    * DuckDB's jaro_winkler_similarity — an independent C++
    * implementation of the same jellyfish algorithm, so the expression
    * is cross-engine certified (round-6 scores; the byte-wise integer
    * match/transposition counts must agree exactly). JW score sums
    * quantize to integer ppm — no unordered double accumulation. All
    * joins are key-equi; one output row. */
  val qJwMatch = GraftQuery(
    "q_jw_match",
    (s, dir) => {
      import s.implicits._
      val c = Tables.customer(s, dir)
        .filter($"c_name".isNotNull)
        .select($"c_custkey", $"c_name")
        .withColumn("p", (lit(10) + $"c_custkey" % 7).cast("int"))
        .withColumn("corr", expr(
          """concat(substring(c_name, 1, p - 1),
             substring(c_name, p + 1, 1),
             substring(c_name, p, 1),
             substring(c_name, p + 2, length(c_name)))"""))
      val nxt = c.select(($"c_custkey" - 1).as("c_custkey"),
        $"c_name".as("decoy_name"))
      val jwE = graft.expressions.JaroWinklerExpr.jaroWinkler _
      val scored = c.join(nxt, "c_custkey")
        .withColumn("jw_self", round(jwE($"corr", $"c_name"), 6))
        .withColumn("jw_decoy", round(jwE($"corr", $"decoy_name"), 6))
      scored.agg(
        count(lit(1)).as("n"),
        sum(when($"jw_self" > $"jw_decoy", 1L).otherwise(0L)).as("n_correct"),
        round(sum(when($"jw_self" > $"jw_decoy", 1L).otherwise(0L))
          .cast(DoubleType) / count(lit(1)).cast(DoubleType), 6).as("accuracy"),
        round(min($"jw_self"), 6).as("min_jw_self"),
        round(max($"jw_decoy"), 6).as("max_jw_decoy"),
        sum(floor($"jw_self" * 1000000.0 + 0.5).cast(LongType)).as("sum_self_ppm"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name,
        CAST(10 + c_custkey % 7 AS INT) AS p
      FROM customer WHERE c_name IS NOT NULL),
      k AS (SELECT c_custkey, c_name,
        substring(c_name, 1, p - 1) || substring(c_name, p + 1, 1)
          || substring(c_name, p, 1) || substring(c_name, p + 2, length(c_name)) AS corr
      FROM c),
      j AS (SELECT k.c_custkey, k.c_name, k.corr, n.c_name AS decoy_name
        FROM k JOIN (SELECT c_custkey - 1 AS c_custkey, c_name FROM c) n
          USING (c_custkey)),
      sc AS (SELECT
          ROUND(jaro_winkler_similarity(corr, c_name), 6) AS jw_self,
          ROUND(jaro_winkler_similarity(corr, decoy_name), 6) AS jw_decoy
        FROM j)
      SELECT COUNT(*) AS n,
        CAST(SUM(CASE WHEN jw_self > jw_decoy THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
        ROUND(CAST(SUM(CASE WHEN jw_self > jw_decoy THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy,
        ROUND(MIN(jw_self), 6) AS min_jw_self,
        ROUND(MAX(jw_decoy), 6) AS max_jw_decoy,
        CAST(SUM(CAST(FLOOR(jw_self * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
          AS sum_self_ppm
      FROM sc""")
  )

  /** The full record-linkage metric PANEL over three keyed corruption
    * classes (adjacent-digit transposition / substitution / deletion):
    * built-in levenshtein beside the three native kernels
    * ([[graft.expressions.StringMetricKernels]] — unrestricted
    * Damerau-Levenshtein, Hamming, char-set Jaccard), rolled up by
    * (class, distance triple). The panel certifies each metric's
    * CHARACTERISTIC signature: a transposition costs levenshtein 2 but
    * Damerau 1; deletion voids Hamming (length mismatch → NULL, where
    * DuckDB raises — the oracle guards on length like any caller must);
    * transposition leaves char-set Jaccard at exactly 1. All map-side
    * kernel calls; one rollup bounded by the handful of signatures. */
  val qStringMetrics = GraftQuery(
    "q_string_metrics",
    (s, dir) => {
      import s.implicits._
      import graft.expressions.JaroWinklerExpr._
      val c = Tables.customer(s, dir)
        .filter($"c_name".isNotNull)
        .withColumn("p", (lit(10) + $"c_custkey" % 7).cast("int"))
        .withColumn("cls", ($"c_custkey" % 3).cast("int"))
        .withColumn("corr", expr(
          """CASE CAST(c_custkey % 3 AS INT)
             WHEN 0 THEN concat(substring(c_name, 1, p - 1),
               substring(c_name, p + 1, 1), substring(c_name, p, 1),
               substring(c_name, p + 2, length(c_name)))
             WHEN 1 THEN concat(substring(c_name, 1, p - 1), 'x',
               substring(c_name, p + 1, length(c_name)))
             ELSE concat(substring(c_name, 1, p - 1),
               substring(c_name, p + 1, length(c_name))) END"""))
      c.select($"cls",
          levenshtein($"corr", $"c_name").as("lev_dist"),
          damerau($"corr", $"c_name").as("dam_dist"),
          hammingDist($"corr", $"c_name").as("ham_dist"),
          round(charJaccard($"corr", $"c_name"), 6).as("jac"))
        .groupBy($"cls", $"lev_dist", $"dam_dist", $"ham_dist")
        .agg(count(lit(1)).as("n"),
          round(min($"jac"), 6).as("min_jac"),
          round(max($"jac"), 6).as("max_jac"))
        .orderBy($"cls", $"lev_dist", $"dam_dist", asc_nulls_first("ham_dist"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name,
        CAST(10 + c_custkey % 7 AS INT) AS p,
        CAST(c_custkey % 3 AS INT) AS cls
      FROM customer WHERE c_name IS NOT NULL),
      k AS (SELECT cls, c_name,
        CASE cls
          WHEN 0 THEN substring(c_name, 1, p - 1) || substring(c_name, p + 1, 1)
            || substring(c_name, p, 1) || substring(c_name, p + 2, length(c_name))
          WHEN 1 THEN substring(c_name, 1, p - 1) || 'x'
            || substring(c_name, p + 1, length(c_name))
          ELSE substring(c_name, 1, p - 1)
            || substring(c_name, p + 1, length(c_name)) END AS corr
      FROM c),
      m AS (SELECT cls,
          CAST(levenshtein(corr, c_name) AS INT) AS lev_dist,
          CAST(damerau_levenshtein(corr, c_name) AS INT) AS dam_dist,
          CASE WHEN length(corr) = length(c_name)
            THEN CAST(hamming(corr, c_name) AS INT) ELSE NULL END AS ham_dist,
          ROUND(jaccard(corr, c_name), 6) AS jac
        FROM k)
      SELECT cls, lev_dist, dam_dist, ham_dist, COUNT(*) AS n,
        ROUND(MIN(jac), 6) AS min_jac, ROUND(MAX(jac), 6) AS max_jac
      FROM m GROUP BY 1, 2, 3, 4
      ORDER BY cls, lev_dist, dam_dist, ham_dist NULLS FIRST""")
  )

  /** Streaming CEP: the view→click→purchase funnel pattern matched by a
    * per-user DFA in [[graft.streaming.PatternMatch]]
    * (flatMapGroupsWithState, O(1) state, greedy non-overlapping) run as
    * a real streaming job. With a single AvailableNow batch every match
    * that completes within the corpus emits (a partial match is carried
    * in state, and no future batch exists), so the oracle is the batch
    * complete-triple chain: v₁ = first view, vₖ₊₁ = first view after
    * p(vₖ), replayed as a recursive CTE over first-following-click /
    * first-following-purchase window minima — see the equivalence
    * argument in PatternMatch's scaladoc. Same single-file precondition
    * as q_stream_sessions. */
  val qStreamFunnel = GraftQuery(
    "q_stream_funnel",
    (s, dir) => {
      import s.implicits._
      val name = "stream_funnel_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      val m = graft.streaming.PatternMatch.matches(
        ev.select($"user_id", $"ts", $"event_id", $"event_type"))
      graft.streaming.EventsStream
        .runAvailableNow(s, m.toDF(), name, checkpoint, OutputMode.Append())
        .select($"user_id", $"view_event_id",
          date_format($"t_view", "yyyy-MM-dd HH:mm:ss").as("t_view"),
          date_format($"t_click", "yyyy-MM-dd HH:mm:ss").as("t_click"),
          date_format($"t_purchase", "yyyy-MM-dd HH:mm:ss").as("t_purchase"),
          $"latency_sec")
        .orderBy($"user_id", $"view_event_id")
    },
    Some("""WITH RECURSIVE ev AS (SELECT user_id, ts, event_id, event_type
        FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      w AS (SELECT user_id, ts, event_id, event_type,
          MIN(CASE WHEN event_type = 'click' THEN ROW(ts, event_id) END)
            OVER nxt AS nc,
          MIN(CASE WHEN event_type = 'purchase' THEN ROW(ts, event_id) END)
            OVER nxt AS np
        FROM ev
        WINDOW nxt AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      trip AS (SELECT v.user_id, ROW(v.ts, v.event_id) AS vk, v.event_id AS v_id,
          v.ts AS t_view, c.ts AS t_click, c.np AS pk
        FROM w v JOIN w c ON v.user_id = c.user_id
          AND c.event_type = 'click' AND ROW(c.ts, c.event_id) = v.nc
        WHERE v.event_type = 'view' AND v.nc IS NOT NULL AND c.np IS NOT NULL),
      tripp AS (SELECT t.user_id, t.vk, t.v_id, t.t_view, t.t_click, t.pk,
          p.ts AS t_purchase
        FROM trip t JOIN w p ON t.user_id = p.user_id
          AND ROW(p.ts, p.event_id) = t.pk),
      walk AS (
        SELECT t.* FROM tripp t WHERE NOT EXISTS (
          SELECT 1 FROM tripp t2 WHERE t2.user_id = t.user_id AND t2.vk < t.vk)
        UNION ALL
        SELECT t.* FROM walk wk JOIN tripp t
          ON t.user_id = wk.user_id AND t.vk > wk.pk
        WHERE NOT EXISTS (SELECT 1 FROM tripp t2
          WHERE t2.user_id = t.user_id AND t2.vk > wk.pk AND t2.vk < t.vk))
      SELECT user_id, v_id AS view_event_id,
        STRFTIME(t_view, '%Y-%m-%d %H:%M:%S') AS t_view,
        STRFTIME(t_click, '%Y-%m-%d %H:%M:%S') AS t_click,
        STRFTIME(t_purchase, '%Y-%m-%d %H:%M:%S') AS t_purchase,
        (epoch_us(t_purchase) - epoch_us(t_view)) // 1000000 AS latency_sec
      FROM walk ORDER BY user_id, view_event_id""")
  )

  /** Streaming CEP under OUT-OF-ORDER micro-batches: the same funnel
    * pattern as [[qStreamFunnel]], but the source is deliberately split
    * into event-time-DISORDERED batches (middle time-tercile first, then
    * the earliest, then the latest) and matched through
    * [[graft.streaming.PatternMatch.matchesReordered]] — the
    * watermark + per-key reorder-buffer variant added when the strict
    * DFA's in-order precondition was turned into a loud guard. Events
    * park in per-key state until the event-time watermark passes them,
    * then fold in exact (ts, event_id) order, so the match set equals
    * the batch oracle for ANY arrival order bounded by the delay; two
    * far-future sentinel events for a non-matching user advance the
    * watermark past the real corpus and fire the EventTimeTimeout flush
    * (the second batch is needed because a watermark only moves at
    * batch END and timeouts fire on the batch AFTER they expire). The
    * oracle is qStreamFunnel's batch recursive-CTE replay, unchanged —
    * that equality IS the assertion.
    *
    * Scale: per-key state is the DFA struct plus a buffer bounded by
    * (watermark delay × per-key event rate) — the standard watermarked
    * stateful-op bound. The corpus-wide delay here (full span + slack)
    * is the DEMO configuration that exercises a total reorder; a
    * production stream uses a bounded delay and the same code. The
    * tercile split is time-boundary-based (min + k·span/3 from one
    * 1-row aggregate), never a global sort. */
  /** Stage an events frame into deliberately event-time-DISORDERED
    * parquet files under a fresh temp dir: middle time-tercile FIRST,
    * then the earliest, then the latest, then two far-future sentinel
    * events for a non-matching user (the first advances the watermark
    * past the real corpus; the second is needed because a watermark
    * only moves at batch END and EventTimeTimeouts fire on the batch
    * AFTER they expire). File mtimes pin the arrival order
    * (FileStreamSource batches by mtime). The tercile split is
    * time-boundary-based (min + k·span/3 from one 1-row aggregate),
    * never a global sort. Returns (srcDir, delaySec bounding the
    * disorder, cleanup) — run cleanup once the availableNow run has
    * collected, success or failure, so repeated rounds don't accumulate
    * corpus copies in the temp dir. */
  private def stageOooSource(
      s: org.apache.spark.sql.SparkSession,
      ev0: org.apache.spark.sql.DataFrame): (String, Long, () => Unit) = {
    import s.implicits._
    val mm = ev0.agg(
      min(unix_micros($"ts")), max(unix_micros($"ts"))).head()
    val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
    val spanUs = math.max(mxUs - mnUs, 1L)
    val (b1, b2) = (mnUs + spanUs / 3, mnUs + 2 * spanUs / 3)
    def sentinel(us: Long) = ev0.limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("ts", timestamp_micros(lit(us)))
      .withColumn("event_id", lit(-1L))
      .withColumn("event_type", lit("view"))
    val srcDir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")),
      "graft_ooo_src").toString
    val t = unix_micros($"ts")
    // ONE partitioned write stages all five arrival files (was five
    // jobs, three of them full corpus scans — the tercile filters):
    // every row gets its stage tag, stages hash-route whole to one task
    // via repartition(stage), and partitionBy lands exactly one part
    // file per stage directory. The stage tag is a partition column, so
    // the data files carry the same four event columns as before; file
    // mtimes still pin the arrival order. An empty tercile (possible
    // only on a degenerate span) writes no directory — the fallback
    // writes the empty file the FileStreamSource previously saw.
    val staged = ev0
      .withColumn("stage",
        when(t > b1 && t <= b2, 0).when(t <= b1, 1).otherwise(2))
      .unionByName(sentinel(mxUs + 2 * spanUs + 7200L * 1000000L)
        .withColumn("stage", lit(3)))  // wm past corpus
      .unionByName(sentinel(mxUs + 4 * spanUs + 14400L * 1000000L)
        .withColumn("stage", lit(4)))  // fires timeouts
    val stageRoot = s"$srcDir/staged"
    staged.repartition(col("stage"))
      .write.mode("overwrite").partitionBy("stage").parquet(stageRoot)
    (0 to 4).foreach { i =>
      val stageDir = new java.io.File(s"$stageRoot/stage=$i")
      val dst = new java.io.File(srcDir, s"events_$i.parquet")
      val part = Option(stageDir.listFiles()).getOrElse(Array.empty)
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      part match {
        case Some(f) => java.nio.file.Files.move(f.toPath, dst.toPath): Unit
        case None => // empty stage: write the empty-schema file directly
          ev0.limit(0).coalesce(1).write.mode("overwrite")
            .parquet(s"$srcDir/empty_$i")
          val ef = new java.io.File(s"$srcDir/empty_$i").listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(s"no part file for empty stage $i"))
          java.nio.file.Files.move(ef.toPath, dst.toPath): Unit
      }
      require(dst.setLastModified(1700000000000L + i * 60000L))
    }
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    (srcDir, spanUs / 1000000L + 60L, () => rm(new java.io.File(srcDir)))
  }

  val qStreamFunnelOoo = GraftQuery(
    "q_stream_funnel_ooo",
    (s, dir) => {
      import s.implicits._
      val ev0 = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
      val (srcDir, delaySec, cleanup) = stageOooSource(s, ev0)
      try {
        val name = "stream_funnel_ooo_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
        val ev = graft.streaming.EventsStream.readEvents(s, srcDir, maxFilesPerTrigger = 1)
        val m = graft.streaming.PatternMatch.matchesReordered(ev, s"$delaySec seconds")
        graft.streaming.EventsStream
          .runAvailableNow(s, m.toDF(), name, checkpoint, OutputMode.Append())
          .filter($"user_id" >= 0) // sentinels can't match, but be explicit
          .select($"user_id", $"view_event_id",
            date_format($"t_view", "yyyy-MM-dd HH:mm:ss").as("t_view"),
            date_format($"t_click", "yyyy-MM-dd HH:mm:ss").as("t_click"),
            date_format($"t_purchase", "yyyy-MM-dd HH:mm:ss").as("t_purchase"),
            $"latency_sec")
          .orderBy($"user_id", $"view_event_id")
      } finally cleanup()
    },
    qStreamFunnel.oracle // SAME batch replay: arrival order must not matter
  )

  /** Generates the batch recursive-CTE replay of [[graft.streaming
    * .PatternMatch.matchesK]] for an ARBITRARY ordered pattern — the
    * per-pattern oracle the k-free chain equivalence argument promises
    * (see the PatternMatch scaladoc): each step event is the FIRST
    * event of the step's type after the previous step's event (window
    * min over following rows), complete chains are walked greedily and
    * non-overlapping by a recursive CTE. `stepCols` names the per-step
    * timestamp output columns. */
  def chainOracleSql(pattern: Seq[String], stepCols: Seq[String]): String = {
    require(pattern.length >= 2 && pattern.length == stepCols.length)
    val k = pattern.length
    val types = pattern.distinct.map(t => s"'$t'").mkString(", ")
    val nexts = (1 until k).map(i =>
      s"""MIN(CASE WHEN event_type = '${pattern(i)}' THEN ROW(ts, event_id) END)
            OVER nxt AS n$i""").mkString(",\n          ")
    val s0 =
      s"""s0 AS (SELECT user_id, ROW(ts, event_id) AS vk, event_id AS start_id,
          ts AS ts0, n1 AS k1
        FROM w WHERE event_type = '${pattern(0)}' AND n1 IS NOT NULL)"""
    val mids = (1 until k - 1).map { i =>
      val carried = (s"s${i - 1}.user_id" +: s"s${i - 1}.vk" +: s"s${i - 1}.start_id" +:
        (0 until i).map(j => s"s${i - 1}.ts$j")).mkString(", ")
      s"""s$i AS (SELECT $carried, e.ts AS ts$i, e.n${i + 1} AS k${i + 1}
        FROM s${i - 1} JOIN w e ON e.user_id = s${i - 1}.user_id
          AND ROW(e.ts, e.event_id) = s${i - 1}.k$i
        WHERE e.n${i + 1} IS NOT NULL)"""
    }
    val last = {
      val i = k - 1
      val carried = (s"s${i - 1}.user_id" +: s"s${i - 1}.vk" +: s"s${i - 1}.start_id" +:
        (0 until i).map(j => s"s${i - 1}.ts$j")).mkString(", ")
      s"""tup AS (SELECT $carried, e.ts AS ts$i, ROW(e.ts, e.event_id) AS pk
        FROM s${i - 1} JOIN w e ON e.user_id = s${i - 1}.user_id
          AND ROW(e.ts, e.event_id) = s${i - 1}.k$i)"""
    }
    val outTs = stepCols.zipWithIndex.map { case (c, i) =>
      s"STRFTIME(ts$i, '%Y-%m-%d %H:%M:%S') AS $c" }.mkString(",\n        ")
    s"""WITH RECURSIVE ev AS (SELECT user_id, ts, event_id, event_type
        FROM events WHERE event_type IN ($types)),
      w AS (SELECT user_id, ts, event_id, event_type,
          $nexts
        FROM ev
        WINDOW nxt AS (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)),
      $s0,
      ${(mids :+ last).mkString(",\n      ")},
      walk AS (
        SELECT t.* FROM tup t WHERE NOT EXISTS (
          SELECT 1 FROM tup t2 WHERE t2.user_id = t.user_id AND t2.vk < t.vk)
        UNION ALL
        SELECT t.* FROM walk wk JOIN tup t
          ON t.user_id = wk.user_id AND t.vk > wk.pk
        WHERE NOT EXISTS (SELECT 1 FROM tup t2
          WHERE t2.user_id = t.user_id AND t2.vk > wk.pk AND t2.vk < t.vk))
      SELECT user_id, start_id AS start_event_id,
        $outTs,
        (epoch_us(ts${k - 1}) - epoch_us(ts0)) // 1000000 AS latency_sec
      FROM walk ORDER BY user_id, start_event_id"""
  }

  /** The 4-step CEP pattern the generalized matcher ships with: the
    * full acquisition funnel signup → view → click → purchase. */
  private val KPattern = Seq("signup", "view", "click", "purchase")
  private val KStepCols = Seq("t_signup", "t_view", "t_click", "t_purchase")

  private def kMatchProjection(df: org.apache.spark.sql.DataFrame) = {
    val s = df.sparkSession
    import s.implicits._
    df.filter($"user_id" >= 0)
      .select(($"user_id" +: $"start_event_id" +:
        KStepCols.zipWithIndex.map { case (c, i) =>
          date_format(timestamp_micros(element_at($"step_us", i + 1)),
            "yyyy-MM-dd HH:mm:ss").as(c)
        }) :+
        expr(s"CAST((step_us[${KPattern.length - 1}] - step_us[0]) div 1000000 AS BIGINT)")
          .as("latency_sec"): _*)
      .orderBy($"user_id", $"start_event_id")
  }

  /** Streaming CEP for a 4-STEP pattern through the generalized
    * [[graft.streaming.PatternMatch.matchesK]] — the parameterized
    * matcher the hardcoded funnel grew into (a pipeline user's first
    * request is always a different pattern). Strict in-order path; the
    * oracle is GENERATED from the pattern by [[chainOracleSql]], so any
    * ordered sequence gets its batch replay for free. Same greedy
    * non-overlapping semantics, O(k) state per user. */
  val qStreamFunnelK = GraftQuery(
    "q_stream_funnel_k",
    (s, dir) => {
      val name = "stream_funnel_k_" +
        java.util.UUID.randomUUID.toString.replace("-", "")
      val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
      val ev = graft.streaming.EventsStream.readEvents(s, s"$dir/events.parquet")
      val m = graft.streaming.PatternMatch.matchesK(ev, KPattern)
      kMatchProjection(graft.streaming.EventsStream
        .runAvailableNow(s, m.toDF(), name, checkpoint, OutputMode.Append()))
    },
    Some(chainOracleSql(KPattern, KStepCols))
  )

  /** The same 4-step pattern under OUT-OF-ORDER micro-batches through
    * [[graft.streaming.PatternMatch.matchesReorderedK]] (watermark +
    * per-key reorder buffer) over the tercile-disordered staged source —
    * same oracle: arrival order must not matter. */
  val qStreamFunnelKOoo = GraftQuery(
    "q_stream_funnel_k_ooo",
    (s, dir) => {
      import s.implicits._
      val ev0 = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
      val (srcDir, delaySec, cleanup) = stageOooSource(s, ev0)
      try {
        val name = "stream_funnel_k_ooo_" +
          java.util.UUID.randomUUID.toString.replace("-", "")
        val checkpoint = graft.streaming.EventsStream.ephemeralCheckpoint()
        val ev = graft.streaming.EventsStream.readEvents(s, srcDir, maxFilesPerTrigger = 1)
        val m = graft.streaming.PatternMatch.matchesReorderedK(
          ev, KPattern, s"$delaySec seconds")
        kMatchProjection(graft.streaming.EventsStream
          .runAvailableNow(s, m.toDF(), name, checkpoint, OutputMode.Append()))
      } finally cleanup()
    },
    Some(chainOracleSql(KPattern, KStepCols))
  )

  val all: Seq[GraftQuery] = Seq(
    qStreamFunnel, qStreamFunnelOoo, qStreamFunnelK, qStreamFunnelKOoo,
    qJwMatch, qStringMetrics,
    qWindowFuncs, qCube, qGroupQuantiles, qTopTokens, qSaltedTopUsers,
    qStreamHourly, qKnnJoin, qWinnowPairs, qMapExtract, qLocalSupplier,
    qValidateRules, qDedupBest, qTfidfTopTerms, qTopkPerKey, qStreamSessions,
    qUnpivot, qGroupingSets, qFirstLast, qArrayAgg, qStats, qRankTopk,
    qDenseTopk, qTopkElide, qStreamEnrich, qStreamDedup, qStreamJoin, qStreamOuterJoin,
    qMergeUpsert, qContiguousIds, qStreamSessionWindow, qFuzzyMatch,
    qQuantileNormalize, qWeightedMedian, qStreamUpsert, qStreamUserStats,
    qStreamTopk, qFuzzyQgram)
}
