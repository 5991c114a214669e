package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.{GraftQuery, Tables}
import graft.operators.Graphs

/** Data-mining operators over the star schema: iterative graph
  * analytics (fixed-point PageRank), market-basket association rules,
  * skyline/Pareto extraction, and referential-integrity auditing.
  *
  * The reference's analytics layer is chart-shaped aggregation
  * (`analysis.py:159-520`); this module carries the mining operators a
  * 100 TB curation/BI workload adds on top. Every query here carries a
  * full DuckDB oracle — the PageRank one by replaying the integer
  * fixed-point iterations as unrolled SQL CTEs (same trick as the BPE
  * oracle, `DocQueries.bpeLearnSql`), the entity-resolution one against
  * levenshtein + a recursive-CTE closure.
  */
object MiningQueries {

  private val PrIters = 5

  /** The shared fixed-point PageRank prologue + one CTE per iteration.
    * MATERIALIZED keeps each generation evaluated once (r_i is read by
    * the contribution join, the dangling scan, and r_{i+1}).
    *
    * `teleport = Some(seeds)` replays the PERSONALIZED variant of
    * [[Graphs.pagerank]]: restart mass + dangling recycle land only on
    * the (literal) seed set, divided by |S| instead of n — the exact
    * integer expressions mirror the Scala driver-side `RankScale / nT`
    * (Long division by a literal) as `1000000000000 // |S|`. */
  /** Build the fixed-point PageRank CTE replay over any edge prologue.
    * `edgeCte` must end with an `e AS MATERIALIZED (... src, dst, w)`
    * CTE (plus any prologue CTEs it needs); `epilogue` is the final
    * SELECT, reading ranks from `r$PrIters`. Defaults replay the nation
    * trade graph (q_pagerank / q_ppr); q_textrank passes the token
    * co-occurrence graph instead. */
  private def pagerankOracle(
      teleport: Option[Seq[Long]],
      edgeCte: String = tradeEdgeCte,
      epilogue: String = tradeEpilogue): String = {
    val nT = teleport.map(_.size.toString).getOrElse("cnt.n")
    def seeded(idRef: String, e: String): String = teleport match {
      case None => e
      case Some(ss) =>
        s"CASE WHEN $idRef IN (${ss.mkString(", ")}) THEN $e ELSE 0 END"
    }
    val iters = (1 to PrIters).map { i =>
      val p = i - 1
      s"""r$i AS MATERIALIZED (
        SELECT v.id,
          ${seeded("v.id", s"(15 * (1000000000000 // $nT)) // 100")}
          + (85 * (COALESCE(c.contrib, 0) + ${seeded("v.id", s"d.dang // $nT")})) // 100 AS rank_fp
        FROM nodes v
        CROSS JOIN cnt
        CROSS JOIN (SELECT CAST(COALESCE(SUM(rank_fp), 0) AS BIGINT) AS dang
          FROM r$p WHERE id NOT IN (SELECT src FROM shares)) d
        LEFT JOIN (SELECT sh.dst AS id,
            CAST(SUM(rank_fp * sh.share_ppm // 1000000) AS BIGINT) AS contrib
          FROM r$p JOIN shares sh ON sh.src = r$p.id GROUP BY sh.dst) c
          ON c.id = v.id)"""
    }.mkString(",\n      ")
    s"""WITH $edgeCte,
      outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS outw FROM e GROUP BY src),
      shares AS MATERIALIZED (SELECT e.src, e.dst, e.w * 1000000 // o.outw AS share_ppm
        FROM e JOIN outw o ON e.src = o.src),
      nodes AS MATERIALIZED (SELECT DISTINCT id
        FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      cnt AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS MATERIALIZED (SELECT id, ${seeded("id", s"1000000000000 // $nT")} AS rank_fp
        FROM nodes, cnt),
      $iters
      $epilogue"""
  }

  private val tradeEdgeCte: String =
    """e AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2)"""

  private val tradeEpilogue: String =
    s"""SELECT n.n_name, r$PrIters.rank_fp,
        ROUND(CAST(r$PrIters.rank_fp AS DOUBLE) / 1000000000000, 6) AS rank
      FROM r$PrIters JOIN nation n ON n.n_nationkey = r$PrIters.id
      ORDER BY rank_fp DESC, n_name"""

  private val pagerankSql: String = pagerankOracle(None)

  /** The nation trade graph: supplier nation → customer nation, weighted
    * by lineitem count. Shared by q_pagerank and q_graph_degrees. */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val sup = Tables.supplier(s, dir)
    val ord = Tables.orders(s, dir)
    val cust = Tables.customer(s, dir)
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .groupBy($"s_nationkey".as("src"), $"c_nationkey".as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private val tradeEdgesSql =
    """e AS MATERIALIZED (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2)"""

  /** Fixed-point PageRank over the nation trade graph: supplier nation →
    * customer nation, weighted by lineitem count. Integer arithmetic end
    * to end ([[Graphs.pagerank]]), so the 5-round ranks hash-match the
    * SQL replay bit for bit. */
  val qPagerank = GraftQuery(
    "q_pagerank",
    (s, dir) => {
      import s.implicits._
      val ranks = Graphs.pagerank(tradeEdges(s, dir), "src", "dst", "w",
        iterations = PrIters)
      val nation = Tables.nation(s, dir)
      ranks.join(broadcast(nation), ranks("id") === nation("n_nationkey"))
        .select($"n_name", $"rank_fp", $"rank")
        .orderBy($"rank_fp".desc, $"n_name")
    },
    Some(pagerankSql)
  )

  /** Seed nations for q_ppr (ARGENTINA, BRAZIL, CANADA): the Americas
    * bloc, so rank reads as trade proximity to that bloc. Seeds ride as
    * literals in both engines — `isin` in Spark, `IN (...)` in DuckDB. */
  private val PprSeeds = Seq(1L, 2L, 3L)

  /** PERSONALIZED PageRank over the same trade graph: restart mass and
    * dangling recycle land uniformly on [[PprSeeds]] instead of on all
    * vertices, so rank measures proximity to the seed bloc (the
    * related-entity primitive). Same integer fixed point as q_pagerank —
    * the 5-round ranks hash-match the unrolled-CTE replay bit for bit,
    * including the zero mass on nations unreachable from the seeds. */
  val qPpr = GraftQuery(
    "q_ppr",
    (s, dir) => {
      import s.implicits._
      val ranks = Graphs.pagerank(tradeEdges(s, dir), "src", "dst", "w",
        iterations = PrIters, teleport = Some(PprSeeds))
      val nation = Tables.nation(s, dir)
      ranks.join(broadcast(nation), ranks("id") === nation("n_nationkey"))
        .select($"n_name", $"rank_fp", $"rank")
        .orderBy($"rank_fp".desc, $"n_name")
    },
    Some(pagerankOracle(Some(PprSeeds)))
  )

  /** TextRank keyword ranking (Mihalcea & Tarau 2004): PageRank over the
    * token co-occurrence graph — vertices are the corpus's top-100 tokens
    * (freq desc, token asc tie-break), edges are adjacent-token
    * co-occurrences (window 2, both directions, self-loops dropped),
    * weighted by count. Reuses [[Graphs.pagerank]]'s integer fixed point
    * verbatim, so the 5-round ranks hash-match the unrolled-CTE replay —
    * the same `pagerankOracle` chain with the co-occurrence prologue
    * swapped in for the trade graph. Scale shape: token-keyed rollups;
    * the graph itself is vocabulary-bounded (≤100 vertices) so every
    * iteration is broadcast-sized regardless of corpus size. */
  val qTextrank = GraftQuery(
    "q_textrank",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
        .select($"doc_id", graft.functions.TextAnalysis.tokens($"text").as("toks"))
      val top = graft.operators.Caches.register(
        docs.select(explode($"toks").as("token"))
          .groupBy($"token").agg(count(lit(1)).as("freq"))
          .orderBy($"freq".desc, $"token").limit(100)
          .withColumn("id",
            row_number().over(Window.orderBy($"freq".desc, $"token")).cast("long")))
      val adj = docs.select(explode(expr(
          """zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),
                      slice(toks, 2, greatest(size(toks) - 1, 0)),
                      (x, y) -> struct(x AS a, y AS b))""")).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
        .filter($"a" =!= $"b")
      val und = adj
        .join(broadcast(top.select($"token".as("a"), $"id".as("ida"))), "a")
        .join(broadcast(top.select($"token".as("b"), $"id".as("idb"))), "b")
        .select($"ida", $"idb")
      val edges = und.select($"ida".as("src"), $"idb".as("dst"))
        .union(und.select($"idb".as("src"), $"ida".as("dst")))
        .groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
      val ranks = Graphs.pagerank(edges, "src", "dst", "w", iterations = PrIters)
      ranks.join(broadcast(top), "id")
        .select($"token", $"rank_fp", $"rank")
        .orderBy($"rank_fp".desc, $"token").limit(20)
    },
    Some(pagerankOracle(None,
      edgeCte = """docs AS (SELECT doc_id,
          list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
        FROM documents),
      topt AS MATERIALIZED (SELECT token, freq,
          CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS id
        FROM (SELECT token, COUNT(*) AS freq
          FROM (SELECT unnest(toks) AS token FROM docs) GROUP BY 1)
        ORDER BY freq DESC, token LIMIT 100),
      adj AS (SELECT p[1] AS a, p[2] AS b
        FROM (SELECT unnest(list_zip(toks[:len(toks)-1], toks[2:])) AS p FROM docs)
        WHERE p[1] <> p[2]),
      und AS (SELECT ta.id AS ida, tb.id AS idb
        FROM adj JOIN topt ta ON ta.token = adj.a JOIN topt tb ON tb.token = adj.b),
      e AS MATERIALIZED (SELECT src, dst, COUNT(*) AS w
        FROM (SELECT ida AS src, idb AS dst FROM und
              UNION ALL SELECT idb, ida FROM und)
        GROUP BY 1, 2)""",
      epilogue = s"""SELECT t.token, r$PrIters.rank_fp,
        ROUND(CAST(r$PrIters.rank_fp AS DOUBLE) / 1000000000000, 6) AS rank
      FROM r$PrIters JOIN topt t ON t.id = r$PrIters.id
      ORDER BY rank_fp DESC, token LIMIT 20"""))
  )

  /** Market-basket association rules over order baskets: for part pairs
    * co-occurring in >= 2 orders, support / confidence / lift. The
    * per-order pair explosion is bounded by basket size (never corpus
    * size), and the self-join runs on the orderkey both sides are
    * already partitioned by — one SMJ, no broadcast of the fact table.
    * Counts are exact integers; each ratio is a single per-row division
    * (no float summation), so rounded values match any engine. */
  val qAssocRules = GraftQuery(
    "q_assoc_rules",
    (s, dir) => {
      import s.implicits._
      val li = graft.operators.Caches.register(
        Tables.lineitem(s, dir)
          .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct())
      val nOrders = li.select($"ok").distinct().agg(count(lit(1)).as("n_orders"))
      val itemCnt = li.groupBy($"pk").agg(count(lit(1)).as("cnt"))
      val pairs = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("pk_a"), col("b.pk").as("pk_b"))
        .agg(count(lit(1)).as("pair_cnt"))
        .filter($"pair_cnt" >= 2)
      pairs
        .join(broadcast(itemCnt.select($"pk".as("pk_a"), $"cnt".as("cnt_a"))), "pk_a")
        .join(broadcast(itemCnt.select($"pk".as("pk_b"), $"cnt".as("cnt_b"))), "pk_b")
        .crossJoin(broadcast(nOrders))
        .select($"pk_a", $"pk_b", $"pair_cnt", $"cnt_a", $"cnt_b",
          round($"pair_cnt".cast("double") / $"n_orders", 6).as("support"),
          round($"pair_cnt".cast("double") / $"cnt_a", 6).as("confidence"),
          round($"pair_cnt".cast("double") * $"n_orders" / ($"cnt_a" * $"cnt_b"), 6)
            .as("lift"))
        .orderBy($"lift".desc, $"pk_a", $"pk_b")
        .limit(25)
    },
    Some("""WITH li AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM li),
      ic AS (SELECT pk, COUNT(*) AS cnt FROM li GROUP BY pk),
      pairs AS (SELECT a.pk AS pk_a, b.pk AS pk_b, COUNT(*) AS pair_cnt
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT pk_a, pk_b, pair_cnt, ca.cnt AS cnt_a, cb.cnt AS cnt_b,
        ROUND(CAST(pair_cnt AS DOUBLE) / n.n_orders, 6) AS support,
        ROUND(CAST(pair_cnt AS DOUBLE) / ca.cnt, 6) AS confidence,
        ROUND(CAST(pair_cnt AS DOUBLE) * n.n_orders / (ca.cnt * cb.cnt), 6) AS lift
      FROM pairs JOIN ic ca ON ca.pk = pairs.pk_a
      JOIN ic cb ON cb.pk = pairs.pk_b
      CROSS JOIN n
      ORDER BY lift DESC, pk_a, pk_b LIMIT 25""")
  )

  /** 2-D skyline (Pareto frontier) of parts: minimize retail price,
    * maximize size. A part is dominated iff some part is no worse on
    * both axes and strictly better on one. Computed without a self-join:
    * collapse to per-price max size, one running-max window over the
    * DISTINCT prices (tiny relation), broadcast the frontier verdict
    * back onto the corpus — O(N) + a window over |distinct prices|,
    * versus the naive O(N²) dominance join. */
  val qPareto = GraftQuery(
    "q_pareto",
    (s, dir) => {
      import s.implicits._
      val part = Tables.part(s, dir)
      val perPrice = part.groupBy($"p_retailprice")
        .agg(max($"p_size").as("best_size"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"p_retailprice")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      // prev_best = best size among STRICTLY cheaper prices (the rows
      // frame is safe because perPrice has one row per distinct price)
      val frontier = perPrice
        .withColumn("prev_best", max($"best_size").over(w))
      part.join(broadcast(frontier), "p_retailprice")
        .filter($"p_size" === $"best_size" &&
          ($"prev_best".isNull || $"prev_best" < $"p_size"))
        .select($"p_partkey", $"p_name", $"p_retailprice", $"p_size")
        .orderBy($"p_retailprice", $"p_partkey")
    },
    Some("""WITH pp AS (SELECT p_retailprice, MAX(p_size) AS best_size
        FROM part GROUP BY p_retailprice),
      f AS (SELECT p_retailprice, best_size,
        MAX(best_size) OVER (ORDER BY p_retailprice
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
        FROM pp)
      SELECT p.p_partkey, p.p_name, p.p_retailprice, p.p_size
      FROM part p JOIN f ON f.p_retailprice = p.p_retailprice
      WHERE p.p_size = f.best_size
        AND (f.prev_best IS NULL OR f.prev_best < p.p_size)
      ORDER BY p.p_retailprice, p.p_partkey""")
  )

  /** Referential-integrity audit across the star schema: orphan fact
    * rows per foreign key (anti-join counts + distinct orphan keys).
    * Each check is one anti-join on the fk column — the natural shuffle
    * key — so the audit scales as four fact scans, no driver state. */
  val qRiAudit = GraftQuery(
    "q_ri_audit",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      def audit(fact: org.apache.spark.sql.DataFrame, fkCol: String,
          dim: org.apache.spark.sql.DataFrame, pkCol: String,
          label: String) = {
        fact.join(dim, fact(fkCol) === dim(pkCol), "left_anti")
          .agg(count(lit(1)).as("orphan_rows"),
            countDistinct(col(fkCol)).as("orphan_keys"))
          .select(lit(label).as("fk"), $"orphan_rows", $"orphan_keys")
      }
      audit(li, "l_orderkey", ord, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(audit(li, "l_partkey", Tables.part(s, dir), "p_partkey",
          "lineitem.l_partkey->part"))
        .unionAll(audit(li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey",
          "lineitem.l_suppkey->supplier"))
        .unionAll(audit(ord, "o_custkey", Tables.customer(s, dir), "c_custkey",
          "orders.o_custkey->customer"))
        .orderBy($"fk")
    },
    Some("""SELECT fk, orphan_rows, orphan_keys FROM (
        SELECT 'lineitem.l_orderkey->orders' AS fk, COUNT(*) AS orphan_rows,
          COUNT(DISTINCT l_orderkey) AS orphan_keys
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        UNION ALL
        SELECT 'lineitem.l_partkey->part', COUNT(*), COUNT(DISTINCT l_partkey)
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        UNION ALL
        SELECT 'lineitem.l_suppkey->supplier', COUNT(*), COUNT(DISTINCT l_suppkey)
        FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
        UNION ALL
        SELECT 'orders.o_custkey->customer', COUNT(*), COUNT(DISTINCT o_custkey)
        FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
      ORDER BY fk""")
  )

  /** Sequential pattern mining: the 25 most frequent event-type trigrams
    * per user timeline. Two leads over one (user, time)-partitioned
    * window — per-user data volume bounds the sort; the trigram space is
    * |event_types|³, so the aggregate output is tiny at any corpus size.
    * Tie-broken by event_id so the sequence is a total order. */
  val qEventTrigrams = GraftQuery(
    "q_event_trigrams",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"event_type")
        .withColumn("e2", lead($"event_type", 1).over(w))
        .withColumn("e3", lead($"event_type", 2).over(w))
        .filter($"e3".isNotNull)
        .groupBy($"event_type".as("e1"), $"e2", $"e3")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"e1", $"e2", $"e3")
        .limit(25)
    },
    Some("""WITH t AS (SELECT event_type AS e1,
        LEAD(event_type, 1) OVER w AS e2,
        LEAD(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      SELECT e1, e2, e3, COUNT(*) AS n FROM t WHERE e3 IS NOT NULL
      GROUP BY e1, e2, e3 ORDER BY n DESC, e1, e2, e3 LIMIT 25""")
  )

  /** Collocation mining: adjacent-token bigrams ranked by LIFT =
    * p(ab) / (p(a)·p(b)) — the monotone transform of PMI (PMI = ln lift),
    * kept as the raw ratio because ln is not correctly-rounded-guaranteed
    * across engines while multiply/divide are. High-lift bigrams are
    * phrases ("et al", "new york"); lift ~1 is chance co-occurrence.
    * One corpus pass for bigram counts + a broadcast unigram join. */
  val qCollocations = GraftQuery(
    "q_collocations",
    (s, dir) => {
      import s.implicits._
      import graft.functions.TextAnalysis
      val toks = TextAnalysis.tokens($"text")
      val docs = graft.operators.Caches.register(
        Tables.documents(s, dir).select(toks.as("ts")))
      val uni = docs.select(explode($"ts").as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("n_tok"))
      val uniTotal = uni.agg(sum($"n_tok").as("n_unigrams"))
      val bi = docs.filter(size($"ts") >= 2)
        .select(explode(zip_with(
          slice($"ts", lit(1), size($"ts") - 1), slice($"ts", lit(2), size($"ts") - 1),
          (a, b) => concat_ws(" ", a, b))).as("bigram"))
        .groupBy($"bigram").agg(count(lit(1)).as("n_ab"))
        .filter($"n_ab" >= 5)
      val biTotal = docs.filter(size($"ts") >= 2)
        .agg(sum(size($"ts") - 1).as("n_bigrams"))
      bi
        .withColumn("w1", split($"bigram", " ")(0))
        .withColumn("w2", split($"bigram", " ")(1))
        .join(broadcast(uni.select($"tok".as("w1"), $"n_tok".as("n_a"))), "w1")
        .join(broadcast(uni.select($"tok".as("w2"), $"n_tok".as("n_b"))), "w2")
        .crossJoin(broadcast(uniTotal)).crossJoin(broadcast(biTotal))
        .select($"bigram", $"n_ab", $"n_a", $"n_b",
          round($"n_ab".cast("double") * $"n_unigrams" * $"n_unigrams" /
            ($"n_bigrams".cast("double") * $"n_a" * $"n_b"), 6).as("lift"))
        .orderBy($"lift".desc, $"bigram")
        .limit(25)
    },
    Some("""WITH toks AS (SELECT
        list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts
      FROM documents),
      uni AS (SELECT u.tok, COUNT(*) AS n_tok
        FROM toks, UNNEST(ts) AS u(tok) GROUP BY u.tok),
      ut AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n_unigrams FROM uni),
      bi AS (SELECT u.b AS bigram, COUNT(*) AS n_ab FROM (
          SELECT [array_to_string(ts[i+1:i+2], ' ') for i in range(0, LEN(ts)-1)] AS bs
          FROM toks WHERE LEN(ts) >= 2), UNNEST(bs) AS u(b)
        GROUP BY u.b HAVING COUNT(*) >= 5),
      bt AS (SELECT CAST(SUM(LEN(ts) - 1) AS BIGINT) AS n_bigrams
        FROM toks WHERE LEN(ts) >= 2)
      SELECT bigram, n_ab, ua.n_tok AS n_a, ub.n_tok AS n_b,
        ROUND(CAST(n_ab AS DOUBLE) * ut.n_unigrams * ut.n_unigrams /
          (CAST(bt.n_bigrams AS DOUBLE) * ua.n_tok * ub.n_tok), 6) AS lift
      FROM bi
      JOIN uni ua ON ua.tok = string_split(bigram, ' ')[1]
      JOIN uni ub ON ub.tok = string_split(bigram, ' ')[2]
      CROSS JOIN ut CROSS JOIN bt
      ORDER BY lift DESC, bigram LIMIT 25""")
  )

  /** Interval → concurrency curve: per hour, how many sessions were
    * ACTIVE (started before the hour ended, ended after it began).
    * Sessions are the same 30-min-gap islands as q_sessionize; each
    * session then explodes to the hour buckets it spans — the interval
    * version of a gap-fill. The explode factor is the session length in
    * hours (gap-bounded), never the corpus; the concurrency rollup key
    * space is the time range in hours. The naive formulation is an
    * hour × session inequality join — quadratic and unshuffleable. */
  val qSessionConcurrency = GraftQuery(
    "q_session_concurrency",
    (s, dir) => {
      import s.implicits._
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts", $"event_id")
      val newSession = when(
        unix_micros($"ts") - unix_micros(lag($"ts", 1).over(byUser)) > 30L * 60 * 1000000,
        1).otherwise(0)
      Tables.events(s, dir)
        .withColumn("new_s", coalesce(newSession, lit(0)))
        .withColumn("session_idx", sum($"new_s").over(
          byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy($"user_id", $"session_idx")
        .agg(min($"ts").as("st"), max($"ts").as("en"))
        .select(explode(sequence(
          date_trunc("hour", $"st"), date_trunc("hour", $"en"),
          expr("interval 1 hour"))).as("hour"))
        .groupBy($"hour")
        .agg(count(lit(1)).as("active_sessions"))
        .select(date_format($"hour", "yyyy-MM-dd HH:mm:ss").as("hour"),
          $"active_sessions")
        .orderBy($"hour")
    },
    Some("""WITH g AS (SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      se AS (SELECT user_id, ts,
        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
      FROM g),
      sess AS (SELECT user_id, session_idx, MIN(ts) AS st, MAX(ts) AS en
        FROM se GROUP BY 1, 2),
      hours AS (SELECT u.hour FROM (
          SELECT generate_series(date_trunc('hour', st), date_trunc('hour', en),
            INTERVAL 1 HOUR) AS hs
          FROM sess), UNNEST(hs) AS u(hour))
      SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
        COUNT(*) AS active_sessions
      FROM hours GROUP BY 1 ORDER BY hour""")
  )

  /** Degree/strength profile of the trade graph: per nation, out/in
    * degree (distinct counterparties), out/in strength (edge weight
    * sums), and the self-loop share — the first-look graph health report
    * before any iterative algorithm. One edge aggregate + two rollups
    * over the graph-sized relation. */
  val qGraphDegrees = GraftQuery(
    "q_graph_degrees",
    (s, dir) => {
      import s.implicits._
      val e = graft.operators.Caches.register(tradeEdges(s, dir))
      val out = e.groupBy($"src".as("nk"))
        .agg(count(lit(1)).as("out_deg"), sum($"w").as("out_w"))
      val in = e.groupBy($"dst".as("nk"))
        .agg(count(lit(1)).as("in_deg"), sum($"w").as("in_w"))
      val self = e.filter($"src" === $"dst")
        .select($"src".as("nk"), $"w".as("self_w"))
      val nation = Tables.nation(s, dir)
      nation
        .join(out, nation("n_nationkey") === out("nk"), "left").drop("nk")
        .join(in, nation("n_nationkey") === in("nk"), "left").drop("nk")
        .join(self, nation("n_nationkey") === self("nk"), "left").drop("nk")
        .select($"n_name",
          coalesce($"out_deg", lit(0L)).as("out_deg"),
          coalesce($"in_deg", lit(0L)).as("in_deg"),
          coalesce($"out_w", lit(0L)).as("out_w"),
          coalesce($"in_w", lit(0L)).as("in_w"),
          coalesce($"self_w", lit(0L)).as("self_w"))
        .orderBy($"n_name")
    },
    Some(s"""WITH $tradeEdgesSql,
      o AS (SELECT src, COUNT(*) AS out_deg, CAST(SUM(w) AS BIGINT) AS out_w
        FROM e GROUP BY src),
      i AS (SELECT dst, COUNT(*) AS in_deg, CAST(SUM(w) AS BIGINT) AS in_w
        FROM e GROUP BY dst),
      sf AS (SELECT src, CAST(w AS BIGINT) AS self_w FROM e WHERE src = dst)
      SELECT n.n_name,
        COALESCE(o.out_deg, 0) AS out_deg, COALESCE(i.in_deg, 0) AS in_deg,
        COALESCE(o.out_w, 0) AS out_w, COALESCE(i.in_w, 0) AS in_w,
        COALESCE(sf.self_w, 0) AS self_w
      FROM nation n
      LEFT JOIN o ON o.src = n.n_nationkey
      LEFT JOIN i ON i.dst = n.n_nationkey
      LEFT JOIN sf ON sf.src = n.n_nationkey
      ORDER BY n_name""")
  )

  /** Entity resolution end to end: fuzzy name-match pairs
    * ([[graft.operators.FuzzyMatch]], prefix-blocked, df-capped) feed
    * [[graft.operators.Dedup.connectedComponents]] — each cluster is one
    * real-world entity, labeled by its minimum member id, with the
    * cluster size attached. The composition is the point: the pair
    * generator and the closure are the SAME operators the text-dedup
    * family runs, on a different similarity. Oracled against
    * levenshtein + a recursive-CTE closure in DuckDB. */
  val qErClusters = GraftQuery(
    "q_er_clusters",
    (s, dir) => {
      import s.implicits._
      val pairs = graft.operators.FuzzyMatch.nameDupPairs(
        Tables.customer(s, dir), "c_custkey", "c_name",
        maxDist = 1, tailDrop = 2)
      val comp = graft.operators.Dedup.connectedComponents(
        pairs.select($"id_a", $"id_b"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy($"entity")
      comp.select($"label".as("entity"), $"id")
        .withColumn("cluster_size", count(lit(1)).over(w))
        .orderBy($"entity", $"id")
    },
    Some("""WITH RECURSIVE c AS (SELECT c_custkey, c_name,
        substring(c_name, 1, GREATEST(length(c_name) - 2, 1)) AS blk
      FROM customer WHERE c_name IS NOT NULL),
      kept AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 10000),
      b AS (SELECT c.* FROM c JOIN kept USING (blk)),
      pairs AS (SELECT a.c_custkey AS id_a, d.c_custkey AS id_b
        FROM b a JOIN b d ON a.blk = d.blk AND a.c_custkey < d.c_custkey
        WHERE levenshtein(a.c_name, d.c_name) <= 1),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      walk(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT w.src, e.b FROM walk w JOIN edges e ON w.dst = e.a),
      comp AS (SELECT src AS id, MIN(dst) AS entity FROM walk GROUP BY src)
      SELECT entity, id, COUNT(*) OVER (PARTITION BY entity) AS cluster_size
      FROM comp ORDER BY entity, id""")
  )

  /** Triangle counts + local clustering coefficient per nation over the
    * undirected trade graph. [[Graphs.triangles]] runs the DEGREE-ORDERED
    * orientation (per-vertex wedge fan-out bounded O(√E) — the celebrity-
    * vertex fix); the oracle enumerates with the simple LEAST/GREATEST
    * orientation, which matches because the triangle SET is
    * orientation-independent. Coefficient = 2T / (deg·(deg−1)) — one
    * per-row division, engine-exact after rounding. */
  val qTriangles = GraftQuery(
    "q_triangles",
    (s, dir) => {
      import s.implicits._
      // NOTE (r16, measured and kept as-is): caching the trade-edge
      // relation (the r15 q_conductance kn fix) measured min 3.02 s vs
      // 2.52 s uncached same-window — here the extra serialized cache-
      // materialization job costs more than the duplicated 4-way join,
      // whose second execution rides broadcast/exchange reuse inside
      // Graphs.triangles' own cache job. Guide §1.3: left uncached.
      val edges = tradeEdges(s, dir)
      val tri = Graphs.triangles(edges, "src", "dst")
      val e = edges.select($"src".as("a"), $"dst".as("b")).filter($"a" =!= $"b")
      val und = e.union(e.select($"b".as("a"), $"a".as("b"))).distinct()
      val deg = und.groupBy($"a".as("id")).agg(count(lit(1)).as("deg"))
      val nation = Tables.nation(s, dir)
      nation
        .join(deg, nation("n_nationkey") === deg("id"), "left").drop("id")
        .join(tri, nation("n_nationkey") === tri("id"), "left").drop("id")
        .select($"n_name",
          coalesce($"deg", lit(0L)).as("deg"),
          coalesce($"triangles", lit(0L)).as("triangles"),
          when(coalesce($"deg", lit(0L)) < 2, lit(0.0))
            .otherwise(round(lit(2.0) * coalesce($"triangles", lit(0L)) /
              ($"deg" * ($"deg" - 1)), 6)).as("clustering"))
        .orderBy($"n_name")
    },
    Some(s"""WITH $tradeEdgesSql,
      und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e WHERE src <> dst),
      sym AS (SELECT a, b FROM und UNION ALL SELECT b, a FROM und),
      deg AS (SELECT a AS id, COUNT(*) AS deg FROM sym GROUP BY a),
      tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      verts AS (SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri),
      tc AS (SELECT id, COUNT(*) AS triangles FROM verts GROUP BY id)
      SELECT n.n_name,
        COALESCE(d.deg, 0) AS deg,
        COALESCE(tc.triangles, 0) AS triangles,
        CASE WHEN COALESCE(d.deg, 0) < 2 THEN 0.0
             ELSE ROUND(2.0 * COALESCE(tc.triangles, 0) / (d.deg * (d.deg - 1)), 6)
        END AS clustering
      FROM nation n
      LEFT JOIN deg d ON d.id = n.n_nationkey
      LEFT JOIN tc ON tc.id = n.n_nationkey
      ORDER BY n_name""")
  )

  /** One unrolled HITS round per CTE pair: raw sums widened to HUGEINT,
    * rescale = floor(raw·1e9 / Σraw) via 128-bit `//` — the exact mirror
    * of [[Graphs.hits]]'s DECIMAL(38,0) DIV. */
  private def hitsOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS id, CAST(SUM(h) AS HUGEINT) AS raw
        FROM h$p JOIN e ON h$p.id = e.src GROUP BY e.dst),
      a$i AS MATERIALIZED (SELECT id,
        CAST((raw * 1000000000) // (SELECT SUM(raw) FROM ar$i) AS BIGINT) AS a
        FROM ar$i),
      hr$i AS MATERIALIZED (SELECT e.src AS id, CAST(SUM(a) AS HUGEINT) AS raw
        FROM a$i JOIN e ON a$i.id = e.dst GROUP BY e.src),
      h$i AS MATERIALIZED (SELECT id,
        CAST((raw * 1000000000) // (SELECT SUM(raw) FROM hr$i) AS BIGINT) AS h
        FROM hr$i)"""
    }.mkString(",\n      ")
    s"""WITH e AS MATERIALIZED (SELECT DISTINCT 10000000 + l_suppkey AS src, l_partkey AS dst FROM lineitem),
      verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
      h0 AS MATERIALIZED (SELECT id, CAST(1000000000 AS BIGINT) AS h FROM verts),
      $rounds
      SELECT CAST(v.id AS BIGINT) AS id,
        COALESCE(h$iters.h, 0) AS hub_fp, COALESCE(a$iters.a, 0) AS auth_fp
      FROM verts v
      LEFT JOIN h$iters ON h$iters.id = v.id
      LEFT JOIN a$iters ON a$iters.id = v.id
      ORDER BY id"""
  }

  /** HITS hubs/authorities over the same supplier→part bipartite graph
    * as q_kcore: suppliers are hubs (they ship many well-sourced parts),
    * parts are authorities (they are shipped by many strong suppliers) —
    * power iteration on AᵀA, four rounds, pure integer fixed point
    * ([[Graphs.hits]]), hash-oracled against the unrolled CTE replay. */
  val qHits = GraftQuery(
    "q_hits",
    (s, dir) => {
      import s.implicits._
      val edges = Tables.lineitem(s, dir)
        .select((lit(10000000L) + $"l_suppkey").as("src"),
          $"l_partkey".cast("long").as("dst"))
      Graphs.hits(edges, "src", "dst", iterations = 4)
        .orderBy($"id")
    },
    Some(hitsOracle(4))
  )

  /** Mutual information between two categorical columns (market segment
    * × nation over customers) with both marginal entropies and the
    * normalized MI — the feature-dependence / leakage-detection KPI (a
    * near-zero MI says the dimensions are independent; NMI ≈ 1 says one
    * determines the other, e.g. a split key leaking the label).
    *
    * MI = Σ_xy (n_xy/N)·ln(n_xy·N/(n_x·n_y)), H = −Σ (n/N)·ln(n/N).
    * Every term derives from exact integer counts, goes through
    * DECIMAL(18,12) before summing (order-independent, ln's last-ulp
    * noise 6 digits under the rounding — same discipline as
    * q_unigram_xent), and the contingency table is |X|·|Y| rows — domain-
    * sized, never corpus-sized, so the final aggregate is a broadcast-
    * joined map-side pass over a tiny relation. */
  val qMutualInfo = GraftQuery(
    "q_mutual_info",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val cust = Tables.customer(s, dir)
        .select($"c_mktsegment".as("x"), $"c_nationkey".as("y"))
      val xy = cust.groupBy($"x", $"y").agg(count(lit(1)).as("n_xy"))
      val nx = cust.groupBy($"x").agg(count(lit(1)).as("n_x"))
      val ny = cust.groupBy($"y").agg(count(lit(1)).as("n_y"))
      val tot = cust.agg(count(lit(1)).as("n"))
      def ent(df: org.apache.spark.sql.DataFrame, cnt: String, out: String) = df
        .crossJoin(broadcast(tot))
        .agg(round(sum((-(col(cnt).cast("double") / $"n") *
            log(col(cnt).cast("double") / $"n"))
          .cast(DecimalType(18, 12))).cast("double"), 6).as(out))
      val mi = xy
        .join(broadcast(nx), "x").join(broadcast(ny), "y")
        .crossJoin(broadcast(tot))
        .agg(round(sum((($"n_xy".cast("double") / $"n") *
            log($"n_xy".cast("double") * $"n" / ($"n_x".cast("double") * $"n_y")))
          .cast(DecimalType(18, 12))).cast("double"), 6).as("mi"))
      // one plan: the three 1-row aggregates meet in broadcast crossJoins
      mi.crossJoin(broadcast(ent(nx, "n_x", "h_segment")))
        .crossJoin(broadcast(ent(ny, "n_y", "h_nation")))
        .select($"mi", $"h_segment", $"h_nation",
          round($"mi" / least($"h_segment", $"h_nation"), 6).as("nmi"))
    },
    Some("""WITH c AS (SELECT c_mktsegment AS x, c_nationkey AS y FROM customer),
      xy AS (SELECT x, y, COUNT(*) AS n_xy FROM c GROUP BY x, y),
      nx AS (SELECT x, COUNT(*) AS n_x FROM c GROUP BY x),
      ny AS (SELECT y, COUNT(*) AS n_y FROM c GROUP BY y),
      tot AS (SELECT COUNT(*) AS n FROM c),
      hx AS (SELECT ROUND(CAST(SUM(CAST(-(CAST(n_x AS DOUBLE) / n) *
          LN(CAST(n_x AS DOUBLE) / n) AS DECIMAL(18,12))) AS DOUBLE), 6) AS h
        FROM nx, tot),
      hy AS (SELECT ROUND(CAST(SUM(CAST(-(CAST(n_y AS DOUBLE) / n) *
          LN(CAST(n_y AS DOUBLE) / n) AS DECIMAL(18,12))) AS DOUBLE), 6) AS h
        FROM ny, tot),
      mi AS (SELECT ROUND(CAST(SUM(CAST((CAST(n_xy AS DOUBLE) / n) *
          LN(CAST(n_xy AS DOUBLE) * n / (CAST(n_x AS DOUBLE) * n_y)) AS DECIMAL(18,12))) AS DOUBLE), 6) AS mi
        FROM xy JOIN nx USING (x) JOIN ny USING (y), tot)
      SELECT mi.mi, hx.h AS h_segment, hy.h AS h_nation,
        ROUND(mi.mi / LEAST(hx.h, hy.h), 6) AS nmi
      FROM mi, hx, hy""")
  )

  /** 25-core of the supplier↔part bipartite graph (an edge = "supplier
    * ships this part", from distinct lineitem pairs; supplier ids offset
    * by 10M to keep the two key spaces disjoint): [[Graphs.kcore]] peels
    * low-degree vertices until fixpoint — the density primitive that
    * isolates the heavily-cross-sourced core of a supply network (or the
    * mirror-farm core of a host graph). Peeling is pure integer
    * degree-counting, so the oracle replays it as unrolled CTE rounds —
    * 5 unrolls ≥ the observed 2-round cascade at the gate SF, and extra
    * rounds past the fixpoint are no-ops, so the replay is exact. */
  val qKcore = GraftQuery(
    "q_kcore",
    (s, dir) => {
      import s.implicits._
      val edges = Tables.lineitem(s, dir)
        .select((lit(10000000L) + $"l_suppkey").as("src"), $"l_partkey".cast("long").as("dst"))
      Graphs.kcore(edges, "src", "dst", k = 25)
        .orderBy($"id")
    },
    Some {
      val rounds = (0 until 5).map { i =>
        s"""k$i AS MATERIALIZED (SELECT a FROM r$i GROUP BY a HAVING COUNT(*) >= 25),
      r${i + 1} AS MATERIALIZED (SELECT r$i.a, r$i.b FROM r$i
        JOIN k$i x ON r$i.a = x.a JOIN k$i y ON r$i.b = y.a)"""
      }.mkString(",\n      ")
      s"""WITH e AS (SELECT DISTINCT 10000000 + l_suppkey AS a, l_partkey AS b FROM lineitem),
      r0 AS MATERIALIZED (SELECT a, b FROM e UNION SELECT b, a FROM e),
      $rounds
      SELECT CAST(a AS BIGINT) AS id, COUNT(*) AS deg FROM r5 GROUP BY a ORDER BY id"""
    }
  )

  /** Gini coefficient of customer revenue — the inequality KPI, computed
    * WITHOUT a single-partition window: ranks come from the
    * range-partitioned enumeration ([[graft.operators.Ids.contiguousRowIds]]),
    * revenues stay exact DECIMAL until one final division, so the
    * statistic is engine-exact: G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ)
    * over revenues sorted ascending with a custkey tie-break. */
  val qGini = GraftQuery(
    "q_gini",
    (s, dir) => {
      import s.implicits._
      val rev = Tables.orders(s, dir)
        .groupBy($"o_custkey")
        .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("rev"))
      val ranked = graft.operators.Ids.contiguousRowIds(
          rev, Seq(col("rev"), col("o_custkey")), numPartitions = 8)
        .select(($"row_id" + 1).as("i"), $"rev")
      ranked
        .agg(count(lit(1)).as("n"),
          sum($"rev").as("sx"),
          sum($"i" * $"rev").as("six"))
        .select($"n",
          round($"sx".cast(DoubleType), 2).as("total_rev"),
          round(
            (lit(2.0) * $"six".cast(DoubleType) -
              ($"n" + 1).cast(DoubleType) * $"sx".cast(DoubleType)) /
              ($"n".cast(DoubleType) * $"sx".cast(DoubleType)), 6).as("gini"))
    },
    Some("""WITH rev AS (SELECT o_custkey,
        SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY o_custkey),
      ranked AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS BIGINT) AS i,
        rev FROM rev),
      agg AS (SELECT COUNT(*) AS n, SUM(rev) AS sx, SUM(i * rev) AS six FROM ranked)
      SELECT n, ROUND(CAST(sx AS DOUBLE), 2) AS total_rev,
        ROUND((2.0 * CAST(six AS DOUBLE) - CAST(n + 1 AS DOUBLE) * CAST(sx AS DOUBLE)) /
          (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
      FROM agg""")
  )

  /** Two-sample Kolmogorov–Smirnov drift statistic between the document-
    * length distributions of two sources: KS = max over values of
    * |F₁(v) − F₂(v)|. The cumulative fronts run over the DISTINCT-value
    * relation (domain-sized, same trick as q_pareto), never the corpus;
    * each per-value term is two divisions and a subtraction — identical
    * IEEE trees in both engines. Complements q_drift_psi (binned) with
    * the binning-free test. */
  val qKsDrift = GraftQuery(
    "q_ks_drift",
    (s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val g1 = $"source" === "src0"
      val counts = docs
        .groupBy($"n_chars")
        .agg(sum(when(g1, 1L).otherwise(0L)).as("c1"),
          sum(when(!g1, 1L).otherwise(0L)).as("c2"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy($"n_chars")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      counts
        .select($"n_chars", sum($"c1").over(w).as("f1"), sum($"c2").over(w).as("f2"))
        .crossJoin(broadcast(docs.agg(
          sum(when(g1, 1L).otherwise(0L)).as("n1"),
          sum(when(!g1, 1L).otherwise(0L)).as("n2"))))
        .agg(max(abs($"f1".cast(DoubleType) / $"n1" - $"f2".cast(DoubleType) / $"n2"))
          .as("ks"), first($"n1").as("n1"), first($"n2").as("n2"))
        .select($"n1", $"n2", round($"ks", 6).as("ks_stat"))
    },
    Some("""WITH counts AS (SELECT n_chars,
        SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c1,
        SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS c2
      FROM documents GROUP BY n_chars),
      tot AS (SELECT
        CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM documents),
      fronts AS (SELECT n_chars,
        SUM(c1) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
        SUM(c2) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      FROM counts)
      SELECT tot.n1, tot.n2,
        ROUND(MAX(ABS(CAST(f1 AS DOUBLE) / tot.n1 - CAST(f2 AS DOUBLE) / tot.n2)), 6) AS ks_stat
      FROM fronts, tot GROUP BY tot.n1, tot.n2""")
  )

  /** The four lineitem measure columns whose pairwise correlations
    * q_corr_matrix reports, with their integer-cents views (every value
    * has ≤ 2 decimals, so ROUND(x·100) is an exact integerization both
    * engines agree on — the double never lands exactly between two
    * integers). */
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Full Pearson correlation MATRIX over the four lineitem measures in
    * ONE aggregate pass (4 + 4 + 6 sums + a count, all map-side partial)
    * — where per-pair `corr()` calls would make 6 passes. All moment
    * sums run on exact integer cents widened through DECIMAL(38,0)
    * (DuckDB: HUGEINT), so the aggregate is order-independent and
    * engine-exact; the final corr arithmetic casts the exact moments to
    * DOUBLE once, after the n·Sxy − Sx·Sy combination (still exact, ≤
    * ~10²⁶ ≪ 38 digits), with the two sqrt factors kept separate so the
    * denominator product never overflows the decimal width. The 100×
    * scaling cancels in corr (shift/scale invariance). */
  val qCorrMatrix = GraftQuery(
    "q_corr_matrix",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      def cents(c: String) =
        round(col(c) * 100).cast("long").cast(DecimalType(38, 0))
      val pairs = CorrCols.combinations(2).toSeq.map { case Seq(x, y) => (x, y) }
      val aggs =
        CorrCols.map(c => sum(cents(c)).as(s"s_$c")) ++
        CorrCols.map(c => sum(cents(c) * cents(c)).as(s"ss_$c")) ++
        pairs.map { case (x, y) => sum(cents(x) * cents(y)).as(s"sp_${x}_$y") }
      val m = Tables.lineitem(s, dir)
        .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"), aggs: _*)
      def corr(x: String, y: String) = {
        val num = ($"n" * col(s"sp_${x}_$y") - col(s"s_$x") * col(s"s_$y"))
          .cast(DoubleType)
        val dx = sqrt(($"n" * col(s"ss_$x") - col(s"s_$x") * col(s"s_$x")).cast(DoubleType))
        val dy = sqrt(($"n" * col(s"ss_$y") - col(s"s_$y") * col(s"s_$y")).cast(DoubleType))
        round(num / (dx * dy), 6)
      }
      m.select(explode(array(pairs.map { case (x, y) =>
          struct(lit(x).as("col_x"), lit(y).as("col_y"),
            corr(x, y).as("corr")) }: _*)).as("r"))
        .select($"r.col_x", $"r.col_y", $"r.corr")
        .orderBy($"col_x", $"col_y")
    },
    Some {
      val pairs = CorrCols.combinations(2).toSeq.map { case Seq(x, y) => (x, y) }
      def cents(c: String) = s"CAST(ROUND($c * 100) AS BIGINT)"
      val sums =
        CorrCols.map(c => s"SUM(${cents(c)}) AS s_$c") ++
        CorrCols.map(c => s"SUM(${cents(c)} * ${cents(c)}) AS ss_$c") ++
        pairs.map { case (x, y) => s"SUM(${cents(x)} * ${cents(y)}) AS sp_${x}_$y" }
      def corr(x: String, y: String) =
        s"""ROUND(CAST(n * sp_${x}_$y - s_$x * s_$y AS DOUBLE) /
           (SQRT(CAST(n * ss_$x - s_$x * s_$x AS DOUBLE)) *
            SQRT(CAST(n * ss_$y - s_$y * s_$y AS DOUBLE))), 6)"""
      val rows = pairs.map { case (x, y) =>
        s"SELECT '$x' AS col_x, '$y' AS col_y, ${corr(x, y)} AS corr FROM m" }
      s"""WITH m AS (SELECT COUNT(*) AS n, ${sums.mkString(", ")} FROM lineitem)
        SELECT * FROM (${rows.mkString(" UNION ALL ")}) ORDER BY col_x, col_y"""
    }
  )

  /** Leakage-safe OUT-OF-FOLD target encoding of customer market segment
    * against order value: orders split into 5 deterministic folds by
    * o_orderkey % 5, and each (segment, fold) cell is encoded with the
    * mean o_totalprice of the OTHER four folds — the standard trick that
    * lets a categorical feature carry target signal without letting any
    * row see its own target. Output is the (segments × folds) encoding
    * grid — domain-sized, never row-sized.
    *
    * Scale: one join orders→customer (dim side broadcast), one grouped
    * aggregate to the grid, then window subtraction ON the grid. Target
    * sums go through DECIMAL(18,2) (exact, order-independent); the mean
    * divides exact decimals as DOUBLE at the end. */
  val qTargetEncode = GraftQuery(
    "q_target_encode",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val cell = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment".as("segment"), (pmod($"o_orderkey", lit(5L))).as("fold"))
        .agg(count(lit(1)).as("n_fold"),
          sum($"o_totalprice".cast(DecimalType(18, 2))).as("sum_fold"))
      val wSeg = Window.partitionBy($"segment")
      cell
        .withColumn("oof_mean",
          // cast the EXACT decimal sum and count to DOUBLE before the
          // division — decimal-division scale rules differ across
          // engines, double division does not
          round((sum($"sum_fold").over(wSeg) - $"sum_fold").cast(DoubleType) /
            (sum($"n_fold").over(wSeg) - $"n_fold").cast(DoubleType), 6))
        .select($"segment", $"fold", $"n_fold", $"oof_mean")
        .orderBy($"segment", $"fold")
    },
    Some("""WITH cell AS (SELECT c.c_mktsegment AS segment,
          o.o_orderkey % 5 AS fold, COUNT(*) AS n_fold,
          SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS sum_fold
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2)
      SELECT segment, fold, n_fold,
        ROUND(CAST(SUM(sum_fold) OVER (PARTITION BY segment) - sum_fold AS DOUBLE) /
          CAST(SUM(n_fold) OVER (PARTITION BY segment) - n_fold AS DOUBLE), 6)
          AS oof_mean
      FROM cell ORDER BY segment, fold""")
  )

  /** Item-item co-purchase similarity — the collaborative-filtering
    * primitive: parts appearing in the same order pair up, scored by
    * cosine (n_ij / √(n_i·n_j)) and lift (n_ij·N / (n_i·n_j)), top 25
    * by support then cosine. The within-order self-join is the scale
    * story: fan-out is lines-per-order², BOUNDED by basket size (single
    * digits in any order system) — never a global item² product; a
    * pathological mega-basket would be df-capped like every other pair
    * generator (baskets that large carry no similarity signal).
    *
    * Exactness: counts are integers; cosine/lift evaluate ONE fixed
    * IEEE tree over them (√ of an exact integer product ≤ ~1e8 — exact
    * double), so no decimal staging is needed. */
  val qCopurchase = GraftQuery(
    "q_copurchase",
    (s, dir) => {
      import s.implicits._
      val basket = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
      val b = graft.operators.Caches.register(basket)
      val itemN = b.groupBy($"pk").agg(count(lit(1)).as("ni"))
      val orders = b.select($"ok").distinct().agg(count(lit(1)).as("n_orders"))
      val pairs = b.as("a").join(b.as("b"), "ok")
        .filter($"a.pk" < $"b.pk")
        .groupBy($"a.pk".as("p1"), $"b.pk".as("p2"))
        .agg(count(lit(1)).as("n_both"))
        .filter($"n_both" >= 2)
      pairs
        .join(broadcast(itemN.select($"pk".as("p1"), $"ni".as("n1"))), "p1")
        .join(broadcast(itemN.select($"pk".as("p2"), $"ni".as("n2"))), "p2")
        .crossJoin(broadcast(orders))
        .select($"p1", $"p2", $"n_both", $"n1", $"n2",
          round($"n_both".cast(DoubleType) /
            sqrt(($"n1" * $"n2").cast(DoubleType)), 6).as("cosine"),
          round($"n_both".cast(DoubleType) * $"n_orders".cast(DoubleType) /
            ($"n1" * $"n2").cast(DoubleType), 6).as("lift"))
        .orderBy($"n_both".desc, $"cosine".desc, $"p1", $"p2")
        .limit(25)
    },
    Some("""WITH basket AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        FROM lineitem),
      itemn AS (SELECT pk, COUNT(*) AS ni FROM basket GROUP BY pk),
      n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM basket),
      pairs AS (SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n_both
        FROM basket a JOIN basket b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2 HAVING COUNT(*) >= 2)
      SELECT p1, p2, n_both, i1.ni AS n1, i2.ni AS n2,
        ROUND(CAST(n_both AS DOUBLE) / SQRT(CAST(i1.ni * i2.ni AS DOUBLE)), 6)
          AS cosine,
        ROUND(CAST(n_both AS DOUBLE) * CAST(n_orders AS DOUBLE) /
          CAST(i1.ni * i2.ni AS DOUBLE), 6) AS lift
      FROM pairs JOIN itemn i1 ON i1.pk = p1 JOIN itemn i2 ON i2.pk = p2, n
      ORDER BY n_both DESC, cosine DESC, p1, p2 LIMIT 25""")
  )

  /** 3×3 determinant over named double columns — the shared formula
    * text both engines evaluate (Spark selectExpr and DuckDB parse the
    * identical tree, so the IEEE result is bit-equal given exact-moment
    * inputs). */
  private def det3(a: String, b: String, c: String, d: String, e: String,
      f: String, g: String, h: String, i: String): String =
    s"($a * ($e * $i - $f * $h) - $b * ($d * $i - $f * $g) + $c * ($d * $h - $e * $g))"

  /** Shared Spark/DuckDB formula fragments for q_multi_ols: Cramer-rule
    * coefficients and R² over the double-cast exact moments. */
  private val OlsDets: Seq[(String, String)] = {
    val dM = det3("nd", "s1d", "s2d", "s1d", "s11d", "s12d", "s2d", "s12d", "s22d")
    val d0 = det3("syd", "s1d", "s2d", "s1yd", "s11d", "s12d", "s2yd", "s12d", "s22d")
    val d1 = det3("nd", "syd", "s2d", "s1d", "s1yd", "s12d", "s2d", "s2yd", "s22d")
    val d2 = det3("nd", "s1d", "syd", "s1d", "s11d", "s1yd", "s2d", "s12d", "s2yd")
    val b0 = s"($d0 / $dM)"
    val b1 = s"($d1 / $dM)"
    val b2 = s"($d2 / $dM)"
    val sse = s"(syyd - ($b0 * syd + $b1 * s1yd + $b2 * s2yd))"
    val sst = "(syyd - syd * syd / nd)"
    Seq(
      // intercept reported in natural units (moments are integer cents)
      "b0" -> s"ROUND($b0 / 100.0, 6)",
      "b1" -> s"ROUND($b1, 6)",
      "b2" -> s"ROUND($b2, 6)",
      "r2" -> s"CASE WHEN $sst > 0 THEN ROUND(1.0 - $sse / $sst, 6) END")
  }

  /** Grouped MULTIVARIATE OLS in closed form: per return flag, fit
    * extendedprice = b0 + b1·quantity + b2·discount by solving the 3×3
    * normal equations with Cramer's rule — ONE moment-aggregate pass
    * (10 sums, map-side partial), then pure scalar arithmetic on the
    * group-level relation. The multi-feature step up from q_trend's
    * single-feature slope; at any corpus size the only shuffle is the
    * group rollup.
    *
    * Engine exactness: all moments are integer-cents products summed
    * through DECIMAL(38,0) (DuckDB HUGEINT) — exact and order-
    * independent; the determinant arithmetic then runs on double casts
    * of those exact integers through the IDENTICAL formula text in both
    * engines ([[OlsDets]] is interpolated into the Spark selectExpr AND
    * the oracle SQL), so even ill-conditioned groups agree bit-for-bit. */
  val qMultiOls = GraftQuery(
    "q_multi_ols",
    (s, dir) => {
      import s.implicits._
      def cents(c: String) =
        round(col(c) * 100).cast("long").cast(DecimalType(38, 0))
      val (y, x1, x2) = (cents("l_extendedprice"), cents("l_quantity"),
        cents("l_discount"))
      val m = Tables.lineitem(s, dir)
        .groupBy($"l_returnflag".as("flag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(x1).as("s1"), sum(x2).as("s2"), sum(y).as("sy"),
          sum(x1 * x1).as("s11"), sum(x1 * x2).as("s12"),
          sum(x2 * x2).as("s22"), sum(x1 * y).as("s1y"),
          sum(x2 * y).as("s2y"), sum(y * y).as("syy"))
        .selectExpr("flag", "n_rows",
          "CAST(n_rows AS DOUBLE) AS nd",
          "CAST(s1 AS DOUBLE) AS s1d", "CAST(s2 AS DOUBLE) AS s2d",
          "CAST(sy AS DOUBLE) AS syd", "CAST(s11 AS DOUBLE) AS s11d",
          "CAST(s12 AS DOUBLE) AS s12d", "CAST(s22 AS DOUBLE) AS s22d",
          "CAST(s1y AS DOUBLE) AS s1yd", "CAST(s2y AS DOUBLE) AS s2yd",
          "CAST(syy AS DOUBLE) AS syyd")
      m.selectExpr(Seq("flag", "n_rows") ++
          OlsDets.map { case (name, f) => s"$f AS $name" }: _*)
        .orderBy($"flag")
    },
    Some {
      val dets = OlsDets.map { case (name, f) => s"$f AS $name" }.mkString(",\n        ")
      s"""WITH li AS (SELECT l_returnflag AS flag,
          CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
          CAST(ROUND(l_quantity * 100) AS BIGINT) AS x1,
          CAST(ROUND(l_discount * 100) AS BIGINT) AS x2
        FROM lineitem),
      m AS (SELECT flag, COUNT(*) AS n_rows,
          SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
          SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12, SUM(x2 * x2) AS s22,
          SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y, SUM(y * y) AS syy
        FROM li GROUP BY flag),
      d AS (SELECT flag, n_rows,
          CAST(n_rows AS DOUBLE) AS nd,
          CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
          CAST(sy AS DOUBLE) AS syd, CAST(s11 AS DOUBLE) AS s11d,
          CAST(s12 AS DOUBLE) AS s12d, CAST(s22 AS DOUBLE) AS s22d,
          CAST(s1y AS DOUBLE) AS s1yd, CAST(s2y AS DOUBLE) AS s2yd,
          CAST(syy AS DOUBLE) AS syyd
        FROM m)
      SELECT flag, n_rows,
        $dets
      FROM d ORDER BY flag"""
    }
  )

  /** Chi-square INDEPENDENCE test over the (lang, source) contingency
    * table — "is language mix the same across sources?", the
    * categorical drift twin of q_ks_drift (continuous) and q_mutual_info
    * (information-theoretic). The corpus shuffles once into cell counts;
    * totals/expected/terms all run on the |langs|×|sources| relation.
    * Per-cell (o−e)²/e terms are FIXED-POINTED to integer ppm before
    * summing — a double sum over cells would be addition-order-dependent
    * across engines, an integer sum is not. Cramér's V normalizes the
    * statistic to [0,1] (IEEE sqrt is correctly rounded, so it
    * round-trips the oracle). */
  val qChisqIndependence = GraftQuery(
    "q_chisq_independence",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      // cached: c feeds rt, ct, tot and the terms join — one corpus
      // scan into the ~25-row cell relation instead of four
      val c = graft.operators.Caches.register(Tables.documents(s, dir)
        .groupBy($"lang", $"source").agg(count(lit(1)).as("o")))
      val rt = c.groupBy($"lang").agg(sum($"o").as("rt"))
      val ct = c.groupBy($"source").agg(sum($"o").as("ct"))
      val tot = c.agg(sum($"o").cast(LongType).as("n"),
        countDistinct($"lang").cast(LongType).as("n_langs"),
        countDistinct($"source").cast(LongType).as("n_sources"))
      val terms = c.join(rt, "lang").join(ct, "source").crossJoin(tot)
        .withColumn("e", $"rt".cast(DoubleType) * $"ct" / $"n")
        .withColumn("term_ppm",
          floor(($"o" - $"e") * ($"o" - $"e") / $"e" * 1000000.0 + 0.5)
            .cast(LongType))
      terms
        .groupBy($"n", $"n_langs", $"n_sources")
        .agg(sum($"term_ppm").cast(LongType).as("chi2_ppm"))
        .select($"n", $"n_langs", $"n_sources",
          (($"n_langs" - 1) * ($"n_sources" - 1)).as("dof"),
          ($"chi2_ppm" / 1000000.0).as("chi2"),
          round(sqrt($"chi2_ppm" / 1000000.0 /
            ($"n" * least($"n_langs" - 1, $"n_sources" - 1))), 6)
            .as("cramers_v"))
    },
    Some("""WITH c AS (SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      rt AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM c GROUP BY 1),
      ct AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM c GROUP BY 1),
      tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
          CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM c),
      terms AS (SELECT o, CAST(rt AS DOUBLE) * ct / n AS e, n, n_langs, n_sources
        FROM c JOIN rt USING (lang) JOIN ct USING (source), tot),
      tp AS (SELECT n, n_langs, n_sources,
          CAST(FLOOR((o - e) * (o - e) / e * 1000000.0 + 0.5) AS BIGINT) AS term_ppm
        FROM terms),
      agg AS (SELECT n, n_langs, n_sources, CAST(SUM(term_ppm) AS BIGINT) AS chi2_ppm
        FROM tp GROUP BY 1, 2, 3)
      SELECT n, n_langs, n_sources,
        (n_langs - 1) * (n_sources - 1) AS dof,
        chi2_ppm / 1000000.0 AS chi2,
        ROUND(SQRT(chi2_ppm / 1000000.0 / (n * LEAST(n_langs - 1, n_sources - 1))), 6) AS cramers_v
      FROM agg""")
  )

  /** Herfindahl–Hirschman CONCENTRATION index of revenue by nation
    * within each region — the standard market-concentration metric
    * (≈1/n when even, →1 when one nation dominates), the scalar
    * companion of q_gini's distributional view. Exactness: national
    * shares are floored to integer ppm of the regional DECIMAL revenue
    * total, and HHI is the integer sum of squared ppm shares divided
    * once — no float accumulation across nations. Revenue rolls up
    * through broadcast dims; everything past it is |nations|-sized. */
  val qHhi = GraftQuery(
    "q_hhi",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.LongType
      val rev = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
        .groupBy($"r_name", $"n_name")
        .agg(sum($"o_totalprice".cast(DecimalType(18, 2))).as("rev"))
      val regTot = rev.groupBy($"r_name").agg(sum($"rev").as("tot"))
      rev.join(broadcast(regTot), "r_name")
        // cast to double BEFORE dividing: decimal-division result scales
        // differ across engines, identical double trees do not
        .withColumn("share_ppm",
          floor($"rev".cast(DoubleType) * 1000000.0 / $"tot".cast(DoubleType))
            .cast(LongType))
        .groupBy($"r_name")
        .agg(count(lit(1)).as("n_nations"),
          sum($"rev").cast(DoubleType).as("total_rev"),
          (sum($"share_ppm" * $"share_ppm") / 1000000000000.0).as("hhi"))
        .select($"r_name", $"n_nations", round($"total_rev", 2).as("total_rev"),
          round($"hhi", 6).as("hhi"))
        .orderBy($"r_name")
    },
    Some("""WITH rev AS (SELECT r_name, n_name,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
      tot AS (SELECT r_name, SUM(rev) AS tot FROM rev GROUP BY 1),
      sh AS (SELECT rev.r_name, rev.rev,
          CAST(FLOOR(CAST(rev.rev AS DOUBLE) * 1000000.0 / CAST(tot.tot AS DOUBLE)) AS BIGINT) AS share_ppm
        FROM rev JOIN tot ON rev.r_name = tot.r_name)
      SELECT r_name, COUNT(*) AS n_nations,
        ROUND(CAST(SUM(rev) AS DOUBLE), 2) AS total_rev,
        ROUND(CAST(SUM(share_ppm * share_ppm) AS DOUBLE) / 1000000000000.0, 6) AS hhi
      FROM sh GROUP BY 1 ORDER BY r_name""")
  )

  // ------------------------------------------------------------ LPA / BFS

  /** Top-`k` strongest out-edges per source (ties on weight broken by
    * dst): the kNN-graph sparsification that keeps community structure
    * while bounding per-vertex degree — shared by q_label_prop and
    * q_bfs_hops, mirrored as a ROW_NUMBER window in their oracles. */
  private def knnEdges(e: org.apache.spark.sql.DataFrame, k: Int) =
    e.withColumn("rn", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("w").desc, col("dst"))))
      .filter(col("rn") <= k).select(col("src"), col("dst"), col("w"))

  private val knnEdgesSql =
    """kn AS (SELECT src, dst, w FROM (
        SELECT src, dst, w,
          ROW_NUMBER() OVER (PARTITION BY src ORDER BY w DESC, dst) AS rn
        FROM e) t WHERE rn <= 3)"""

  /** The LPA oracle: every synchronous round unrolls into three CTEs
    * (incident label-weight sums → per-vertex argmax with min-label
    * tie-break → label update), a pure function of the previous round —
    * the same replay style as the pagerank/HITS oracles. */
  /** The shared WITH-body of the LPA replay (kNN sparsify → symmetrize →
    * `rounds` unrolled label updates ending in CTE l`rounds`), reused by
    * q_label_prop and q_modularity. */
  private def lpaCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""$tradeEdgesSql,
      $knnEdgesSql,
      sym AS (SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
          SELECT src, dst, w FROM kn
          UNION ALL SELECT dst AS src, src AS dst, w FROM kn) u
        WHERE src <> dst GROUP BY 1, 2),
      v AS (SELECT DISTINCT id FROM (
          SELECT src AS id FROM sym UNION ALL SELECT dst FROM sym) t2),
      l0 AS (SELECT id, id AS lab FROM v)""")
    for (r <- 1 to rounds) {
      sb.append(s""",
      c$r AS (SELECT s.dst AS vid, l.lab, SUM(s.w) AS wt
        FROM sym s JOIN l${r - 1} l ON s.src = l.id GROUP BY 1, 2),
      p$r AS (SELECT vid, lab FROM (
          SELECT vid, lab,
            ROW_NUMBER() OVER (PARTITION BY vid ORDER BY wt DESC, lab) AS rn
          FROM c$r) t WHERE rn = 1),
      l$r AS (SELECT l.id, COALESCE(p.lab, l.lab) AS lab
        FROM l${r - 1} l LEFT JOIN p$r p ON l.id = p.vid)""")
    }
    sb.toString
  }

  private def lpaOracle(rounds: Int): String =
    s"""WITH ${lpaCtes(rounds)}
      SELECT n1.n_name AS n_name, n2.n_name AS community
      FROM l$rounds f
      JOIN nation n1 ON f.id = n1.n_nationkey
      JOIN nation n2 ON f.lab = n2.n_nationkey
      ORDER BY community, n_name"""

  /** Community detection on the kNN-sparsified trade graph via
    * deterministic synchronous label propagation ([[Graphs.labelPropagation]]):
    * 4 rounds, min-label tie-break, integer weights — engine-exact, so
    * the run replays as 12 unrolled CTEs. The kNN sparsification (top-3
    * out-edges per nation) is the standard density bound that makes LPA
    * behave on dense graphs and keeps per-vertex fan-in O(k) at scale. */
  val qLabelProp = GraftQuery(
    "q_label_prop",
    (s, dir) => {
      import s.implicits._
      val labels = Graphs.labelPropagation(
        knnEdges(tradeEdges(s, dir), 3), "src", "dst", "w", rounds = 4)
      val n1 = Tables.nation(s, dir).select($"n_nationkey".as("id"), $"n_name")
      val n2 = Tables.nation(s, dir)
        .select($"n_nationkey".as("lab"), $"n_name".as("community"))
      labels.join(broadcast(n1), "id").join(broadcast(n2), "lab")
        .select($"n_name", $"community")
        .orderBy($"community", $"n_name")
    },
    Some(lpaOracle(rounds = 4))
  )

  /** Min-hop BFS reach from ALGERIA (nation 0) over the directed kNN
    * trade graph, depth-bounded at 3 ([[Graphs.bfs]]) — the reachability
    * primitive (supply-chain blast radius). The oracle is a recursive
    * CTE with UNION (set) semantics: (id, hop) pairs dedup against the
    * full result, so the recursion is V×maxHops-bounded even on cycles,
    * and MIN(hop) per vertex equals the operator's frontier min-merge. */
  val qBfsHops = GraftQuery(
    "q_bfs_hops",
    (s, dir) => {
      import s.implicits._
      val d = Graphs.bfs(knnEdges(tradeEdges(s, dir), 3), "src", "dst",
        source = 0L, maxHops = 3)
      val nation = Tables.nation(s, dir)
      d.join(broadcast(nation), d("id") === nation("n_nationkey"))
        .select($"n_name", $"hops")
        .orderBy($"hops", $"n_name")
    },
    Some(s"""WITH RECURSIVE $tradeEdgesSql,
      $knnEdgesSql,
      walk AS (
        SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS hop
        UNION
        SELECT kn.dst, w.hop + 1 FROM walk w JOIN kn ON kn.src = w.id
        WHERE w.hop < 3),
      d AS (SELECT id, CAST(MIN(hop) AS BIGINT) AS hops FROM walk GROUP BY id)
      SELECT n.n_name, d.hops FROM d
      JOIN nation n ON d.id = n.n_nationkey
      ORDER BY d.hops, n.n_name""")
  )

  /** Harmonic closeness centrality on the directed kNN trade graph,
    * bounded at 3 hops (Boldi–Vigna "Axioms for centrality": harmonic
    * = Σ 1/d(v,u), the closeness variant that handles disconnected
    * reach gracefully): per source nation, count vertices first reached
    * at hop 1/2/3 via multi-source BFS, then harmonic = n1 + n2/2 +
    * n3/3 — computed as the INTEGER n1·6 + n2·3 + n3·2 over the common
    * denominator with one final divide, so no per-term float ever sums.
    * Sources that reach nothing are absent (both engines drop them
    * identically).
    *
    * Scale: the trade graph is vocabulary-bounded (|nations|² max), so
    * the 3-hop expansion is written CLOSED-FORM (3 chained equi-joins +
    * one min rollup) — no driver loop at all; on an unbounded graph
    * the same computation is [[graft.operators.Graphs.bfs]] seeded
    * multi-source with (source, vertex) state, O(V·S) rows, or a
    * HyperBall sketch union when exact counts stop fitting. */
  val qCloseness = GraftQuery(
    "q_closeness",
    (s, dir) => {
      import s.implicits._
      val e = knnEdges(tradeEdges(s, dir), 3).select($"src", $"dst")
      val v = e.select($"src".as("id")).union(e.select($"dst".as("id"))).distinct()
      val w0 = v.select($"id".as("srcv"), $"id", lit(0).as("hop"))
      val w1 = e.select($"src".as("srcv"), $"dst".as("id"), lit(1).as("hop"))
      val w2 = w1.as("a").join(e.as("b"), col("a.id") === col("b.src"))
        .select(col("a.srcv"), col("b.dst").as("id"), lit(2).as("hop"))
      val w3 = w2.as("a2").join(e.as("b2"), col("a2.id") === col("b2.src"))
        .select(col("a2.srcv"), col("b2.dst").as("id"), lit(3).as("hop"))
      val cent = w0.union(w1).union(w2).union(w3)
        .groupBy($"srcv", $"id").agg(min($"hop").as("hops"))
        .filter($"hops" >= 1)
        .groupBy($"srcv").agg(
          sum(when($"hops" === 1, 1L).otherwise(0L)).as("n1"),
          sum(when($"hops" === 2, 1L).otherwise(0L)).as("n2"),
          sum(when($"hops" === 3, 1L).otherwise(0L)).as("n3"))
        .withColumn("hx6", $"n1" * 6 + $"n2" * 3 + $"n3" * 2)
      val nation = Tables.nation(s, dir)
      cent.join(broadcast(nation), cent("srcv") === nation("n_nationkey"))
        .select($"n_name", $"n1", $"n2", $"n3",
          round($"hx6" / 6.0, 6).as("harmonic"))
        .orderBy($"harmonic".desc, $"n_name")
    },
    Some(s"""WITH RECURSIVE $tradeEdgesSql,
      $knnEdgesSql,
      v AS (SELECT DISTINCT id FROM
        (SELECT src AS id FROM kn UNION SELECT dst FROM kn)),
      walk AS (
        SELECT id AS srcv, id, 0 AS hop FROM v
        UNION
        SELECT w.srcv, kn.dst, w.hop + 1 FROM walk w JOIN kn ON kn.src = w.id
        WHERE w.hop < 3),
      d AS (SELECT srcv, id, MIN(hop) AS hops FROM walk GROUP BY 1, 2),
      c AS (SELECT srcv,
          CAST(SUM(CASE WHEN hops = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(SUM(CASE WHEN hops = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
          CAST(SUM(CASE WHEN hops = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3
        FROM d WHERE hops >= 1 GROUP BY 1)
      SELECT n.n_name, c.n1, c.n2, c.n3,
        ROUND((c.n1 * 6 + c.n2 * 3 + c.n3 * 2) / 6.0, 6) AS harmonic
      FROM c JOIN nation n ON c.srcv = n.n_nationkey
      ORDER BY harmonic DESC, n_name""")
  )

  /** Adamic-Adar link prediction on the undirected kNN trade graph:
    * for every NON-adjacent pair with a common neighbor, score
    * Σ_z 1/ln(deg z) — the classic "which edge appears next" primitive
    * (recommendation candidates, entity-linking hints). Per-wedge terms
    * are fixed-pointed to integer ppm BEFORE the sum (an unordered
    * double sum over common neighbors would be partition-order-
    * dependent); common neighbors have deg ≥ 2, so ln(deg) > 0 always.
    * Scale shape: the wedge join fans out per-vertex-degree² — bounded
    * by the kNN sparsification (deg ≤ 2k) before the join, the same
    * guard q_label_prop uses. */
  val qAdamicAdar = GraftQuery(
    "q_adamic_adar",
    (s, dir) => {
      import s.implicits._
      val kn = knnEdges(tradeEdges(s, dir), 3).select($"src", $"dst")
      val und = graft.operators.Caches.register(
        kn.union(kn.select($"dst".as("src"), $"src".as("dst")))
          .filter($"src" =!= $"dst").distinct())
      val deg = und.groupBy($"src".as("z_id")).agg(count(lit(1)).as("deg"))
      val wedge = und.as("e1").join(und.as("e2"),
          col("e1.dst") === col("e2.src") && col("e1.src") < col("e2.dst"))
        .select(col("e1.src").as("a"), col("e2.dst").as("b"), col("e1.dst").as("z"))
      val scored = wedge.join(deg, wedge("z") === deg("z_id"))
        .withColumn("t_ppm",
          floor(lit(1000000.0) / log($"deg".cast("double")) + lit(0.5)).cast("long"))
        .groupBy($"a", $"b")
        .agg(count(lit(1)).as("n_common"), sum($"t_ppm").as("aa_ppm"))
      scored.join(und.select($"src".as("a"), $"dst".as("b")), Seq("a", "b"), "left_anti")
        .select($"a", $"b", $"n_common", $"aa_ppm",
          round($"aa_ppm".cast("double") / lit(1000000.0), 6).as("aa_score"))
        .orderBy($"aa_ppm".desc, $"a", $"b").limit(10)
    },
    Some(s"""WITH $tradeEdgesSql,
      $knnEdgesSql,
      und AS (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM kn UNION ALL SELECT dst AS src, src AS dst FROM kn) u
        WHERE src <> dst),
      deg AS (SELECT src AS z_id, COUNT(*) AS deg FROM und GROUP BY 1),
      w AS (SELECT e1.src AS a, e2.dst AS b, e1.dst AS z
        FROM und e1 JOIN und e2 ON e1.dst = e2.src AND e1.src < e2.dst),
      sc AS (SELECT a, b, COUNT(*) AS n_common,
          CAST(SUM(CAST(FLOOR(1000000.0 / LN(CAST(deg AS DOUBLE)) + 0.5) AS BIGINT)) AS BIGINT)
            AS aa_ppm
        FROM w JOIN deg ON w.z = deg.z_id GROUP BY 1, 2),
      nonadj AS (SELECT sc.* FROM sc
        LEFT JOIN und ON sc.a = und.src AND sc.b = und.dst
        WHERE und.src IS NULL)
      SELECT a, b, n_common, aa_ppm,
        ROUND(CAST(aa_ppm AS DOUBLE) / 1000000.0, 6) AS aa_score
      FROM nonadj ORDER BY aa_ppm DESC, a, b LIMIT 10""")
  )

  /** Newman MODULARITY of the LPA partition — the score that says
    * whether the communities q_label_prop found are real structure or
    * noise (Q ≈ 0 means no better than random given degrees). Algebra
    * kept engine-exact by clearing denominators: Q = Σ_c e_c/m₂ −
    * Σ_c (d_c/m₂)² = (m₂·Σe_c − Σd_c²)/m₂², where Σe_c (within-community
    * directed weight) is ONE conditional integer sum over the symmetric
    * edge relation — no per-community float terms — and Σd_c² sums exact
    * integer community degrees. One IEEE division at the end. */
  val qModularity = GraftQuery(
    "q_modularity",
    (s, dir) => {
      import s.implicits._
      // kn cached: both the symmetrized relation below AND the LPA
      // operator's own symmetrize read it — uncached, the 4-way trade
      // join ran twice per execution
      val kn = graft.operators.Caches.register(knnEdges(tradeEdges(s, dir), 3))
      val e = kn.select($"src", $"dst", $"w")
      val sym = graft.operators.Caches.register(
        e.union(e.select($"dst".as("src"), $"src".as("dst"), $"w"))
          .filter($"src" =!= $"dst")
          .groupBy($"src", $"dst").agg(sum($"w").as("w")))
      val labels = graft.operators.Caches.register(
        Graphs.labelPropagation(kn, "src", "dst", "w", rounds = 4))
      val la = labels.select($"id".as("src"), $"lab".as("lab_a"))
      val lb = labels.select($"id".as("dst"), $"lab".as("lab_b"))
      val within = sym.join(broadcast(la), "src").join(broadcast(lb), "dst")
        .agg(sum(when($"lab_a" === $"lab_b", $"w").otherwise(0L)).as("within_w"),
          sum($"w").as("m2"))
      val degSq = sym.groupBy($"src").agg(sum($"w").as("d"))
        .join(broadcast(labels.select($"id".as("src"), $"lab")), "src")
        .groupBy($"lab").agg(sum($"d").as("d_c"))
        .agg(sum($"d_c" * $"d_c").as("deg_sq"), count(lit(1)).as("n_communities"))
      within.crossJoin(degSq)
        .select($"n_communities", $"m2", $"within_w", $"deg_sq",
          round(($"m2" * $"within_w" - $"deg_sq").cast("double") /
            ($"m2".cast("double") * $"m2".cast("double")), 6).as("modularity"))
    },
    Some(s"""WITH ${lpaCtes(4)},
      j AS (SELECT sym.w, la.lab AS lab_a, lb.lab AS lab_b
        FROM sym JOIN l4 la ON sym.src = la.id JOIN l4 lb ON sym.dst = lb.id),
      wi AS (SELECT
          CAST(SUM(CASE WHEN lab_a = lab_b THEN w ELSE 0 END) AS BIGINT) AS within_w,
          CAST(SUM(w) AS BIGINT) AS m2
        FROM j),
      dg AS (SELECT l4.lab, CAST(SUM(d.d) AS BIGINT) AS d_c
        FROM (SELECT src, CAST(SUM(w) AS BIGINT) AS d FROM sym GROUP BY 1) d
        JOIN l4 ON d.src = l4.id GROUP BY 1),
      ds AS (SELECT CAST(SUM(d_c * d_c) AS BIGINT) AS deg_sq,
          COUNT(*) AS n_communities FROM dg)
      SELECT n_communities, m2, within_w, deg_sq,
        ROUND(CAST(m2 * within_w - deg_sq AS DOUBLE) /
          (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 6) AS modularity
      FROM wi, ds""")
  )

  /** 2-D SKYLINE (dominance frontier): parts not dominated on
    * (cheaper price, larger size) — the multi-objective shortlist
    * operator (cost/quality frontiers, model-size/score frontiers).
    * The naive formulation is an O(n²) NOT-EXISTS self-join; in 2-D it
    * collapses to ONE ordered window: a part is dominated iff a
    * strictly-cheaper part has size ≥ its own (RANGE-framed max over
    * cheaper cents) or an equal-price part has size strictly larger
    * (RANGE max including the current price group). Integer cents +
    * integer sizes keep every comparison engine-exact. One sort, one
    * window, zero joins — the shape that survives any corpus size
    * (at 100 TB the sort is Spark's range-partitioned ordering; the
    * RANGE frame never needs cross-partition state beyond the sort). */
  val qSkyline = GraftQuery(
    "q_skyline",
    (s, dir) => {
      import s.implicits._
      val w = Window.orderBy($"cents")
      Tables.part(s, dir)
        .select($"p_partkey", $"p_retailprice", $"p_size",
          ($"p_retailprice".cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
        .withColumn("max_sz_cheaper",
          max($"p_size").over(w.rangeBetween(Window.unboundedPreceding, -1)))
        .withColumn("max_sz_upto",
          max($"p_size").over(w.rangeBetween(Window.unboundedPreceding, 0)))
        .filter(coalesce($"max_sz_cheaper" < $"p_size", lit(true)) &&
          !($"max_sz_upto" > $"p_size"))
        .select($"p_partkey", $"p_retailprice", $"p_size")
        .orderBy($"p_retailprice", $"p_partkey")
    },
    Some("""WITH c AS (SELECT p_partkey, p_retailprice, p_size,
        CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM part),
      f AS (SELECT p_partkey, p_retailprice, p_size,
        MAX(p_size) OVER (ORDER BY cents
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_sz_cheaper,
        MAX(p_size) OVER (ORDER BY cents
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_sz_upto
      FROM c)
      SELECT p_partkey, p_retailprice, p_size FROM f
      WHERE COALESCE(max_sz_cheaper < p_size, TRUE)
        AND NOT (max_sz_upto > p_size)
      ORDER BY p_retailprice, p_partkey""")
  )

  private def dec38(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast(DecimalType(38, 0))

  /** Fellegi-Sunter probabilistic record linkage over the blocked
    * customer pair graph — the WEIGHTED counterpart of q_er_clusters'
    * binary edit-distance gate, and the classic output shape: one row
    * per AGREEMENT PATTERN (name-within-1-edit, same nation, same
    * segment, balance-within-$100), with its pair count, composite
    * log₂(m/u) match weight, and match/possible/non-match tier. The
    * m-probabilities are declared priors; u-probabilities for the two
    * categorical fields are estimated EXACTLY from value frequencies
    * (u = Σf(f−1) / N(N−1), the random-pair agreement probability —
    * both integers, so the only floats are the per-FIELD log weights,
    * quantized to ppm once before the per-pattern integer sum). The
    * declared-prior field weights are hardcoded ppm literals
    * (ln(950)/ln2 etc.) shared by both engines. Scale shape: pairs come
    * from the same df-capped prefix blocking as q_er_clusters (≤ cap²
    * work per block), and the output is the 16-row pattern lattice —
    * constant regardless of corpus size. */
  val qFellegiSunter = GraftQuery(
    "q_fellegi_sunter",
    (s, dir) => {
      import s.implicits._
      val cents = floor($"c_acctbal" * 100 + 0.5).cast("long")
      val keyed = Tables.customer(s, dir).filter($"c_name".isNotNull)
        .select($"c_custkey".as("id"), $"c_name".as("name"),
          $"c_nationkey".as("nat"), $"c_mktsegment".as("seg"), cents.as("bal"),
          expr("substring(c_name, 1, greatest(length(c_name) - 2, 1))").as("blk"))
      val kept = keyed.groupBy($"blk").agg(count(lit(1)).as("_f"))
        .filter($"_f" <= 10000).select($"blk")
      val b = keyed.join(kept, "blk")
      val pats = b.as("a").join(b.as("b"),
          col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
        .select(
          when(levenshtein(col("a.name"), col("b.name"), 1) >= 0, 1L).otherwise(0L)
            .as("a_name"),
          when(col("a.nat") === col("b.nat"), 1L).otherwise(0L).as("a_nation"),
          when(col("a.seg") === col("b.seg"), 1L).otherwise(0L).as("a_segment"),
          when(abs(col("a.bal") - col("b.bal")) <= 10000L, 1L).otherwise(0L)
            .as("a_balance"))
        .groupBy($"a_name", $"a_nation", $"a_segment", $"a_balance")
        .agg(count(lit(1)).as("n_pairs"))
      val cust = Tables.customer(s, dir)
      val n = cust.agg(count(lit(1)).as("n"))
      def uAgg(c: String, num: String) = cust.groupBy(col(c)).agg(count(lit(1)).as("f"))
        .agg(sum(dec38($"f") * (dec38($"f") - 1)).as(num))
      val u = n.crossJoin(uAgg("c_nationkey", "nn")).crossJoin(uAgg("c_mktsegment", "sn"))
        .select(
          (dec38($"n") * (dec38($"n") - 1)).cast(DoubleType).as("nd"),
          $"nn".cast(DoubleType).as("nn"), $"sn".cast(DoubleType).as("sn"))
        .select(
          floor(log(lit(0.9) * $"nd" / $"nn") / log(lit(2.0)) * 1e6 + 0.5).cast("long").as("w_nat_a"),
          floor(log(lit(0.1) * $"nd" / ($"nd" - $"nn")) / log(lit(2.0)) * 1e6 + 0.5).cast("long").as("w_nat_d"),
          floor(log(lit(0.9) * $"nd" / $"sn") / log(lit(2.0)) * 1e6 + 0.5).cast("long").as("w_seg_a"),
          floor(log(lit(0.1) * $"nd" / ($"nd" - $"sn")) / log(lit(2.0)) * 1e6 + 0.5).cast("long").as("w_seg_d"))
      pats.crossJoin(broadcast(u))
        .withColumn("score_ppm",
          $"a_name" * 9891784L + (lit(1L) - $"a_name") * -4320485L +
          $"a_nation" * $"w_nat_a" + (lit(1L) - $"a_nation") * $"w_nat_d" +
          $"a_segment" * $"w_seg_a" + (lit(1L) - $"a_segment") * $"w_seg_d" +
          $"a_balance" * 5321928L + (lit(1L) - $"a_balance") * -2292782L)
        .select($"a_name", $"a_nation", $"a_segment", $"a_balance", $"n_pairs",
          $"score_ppm",
          when($"score_ppm" >= 8000000L, lit("match"))
            .when($"score_ppm" >= 0L, lit("possible"))
            .otherwise(lit("non_match")).as("tier"))
        .orderBy($"score_ppm".desc, $"a_name", $"a_nation", $"a_segment", $"a_balance")
    },
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS name, c_nationkey AS nat,
        c_mktsegment AS seg, CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal,
        substring(c_name, 1, GREATEST(length(c_name) - 2, 1)) AS blk
      FROM customer WHERE c_name IS NOT NULL),
      kept AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 10000),
      b AS (SELECT c.* FROM c JOIN kept USING (blk)),
      pats AS (SELECT
          CASE WHEN levenshtein(a.name, d.name) <= 1 THEN 1 ELSE 0 END AS a_name,
          CASE WHEN a.nat = d.nat THEN 1 ELSE 0 END AS a_nation,
          CASE WHEN a.seg = d.seg THEN 1 ELSE 0 END AS a_segment,
          CASE WHEN ABS(a.bal - d.bal) <= 10000 THEN 1 ELSE 0 END AS a_balance,
          COUNT(*) AS n_pairs
        FROM b a JOIN b d ON a.blk = d.blk AND a.id < d.id
        GROUP BY 1, 2, 3, 4),
      nrow AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM customer),
      un AS (SELECT SUM(CAST(f AS HUGEINT) * (CAST(f AS HUGEINT) - 1)) AS nn
        FROM (SELECT COUNT(*) AS f FROM customer GROUP BY c_nationkey)),
      us AS (SELECT SUM(CAST(f AS HUGEINT) * (CAST(f AS HUGEINT) - 1)) AS sn
        FROM (SELECT COUNT(*) AS f FROM customer GROUP BY c_mktsegment)),
      w AS (SELECT
          CAST(FLOOR(LN(0.9 * nd / nn) / LN(2.0) * 1e6 + 0.5) AS BIGINT) AS w_nat_a,
          CAST(FLOOR(LN(0.1 * nd / (nd - nn)) / LN(2.0) * 1e6 + 0.5) AS BIGINT) AS w_nat_d,
          CAST(FLOOR(LN(0.9 * nd / sn) / LN(2.0) * 1e6 + 0.5) AS BIGINT) AS w_seg_a,
          CAST(FLOOR(LN(0.1 * nd / (nd - sn)) / LN(2.0) * 1e6 + 0.5) AS BIGINT) AS w_seg_d
        FROM (SELECT CAST(n * (n - 1) AS DOUBLE) AS nd, CAST(nn AS DOUBLE) AS nn,
            CAST(sn AS DOUBLE) AS sn FROM nrow, un, us)),
      sc AS (SELECT a_name, a_nation, a_segment, a_balance, n_pairs,
          a_name * 9891784 + (1 - a_name) * -4320485 +
          a_nation * w_nat_a + (1 - a_nation) * w_nat_d +
          a_segment * w_seg_a + (1 - a_segment) * w_seg_d +
          a_balance * 5321928 + (1 - a_balance) * -2292782 AS score_ppm
        FROM pats, w)
      SELECT a_name, a_nation, a_segment, a_balance, n_pairs, score_ppm,
        CASE WHEN score_ppm >= 8000000 THEN 'match'
             WHEN score_ppm >= 0 THEN 'possible'
             ELSE 'non_match' END AS tier
      FROM sc
      ORDER BY score_ppm DESC, a_name, a_nation, a_segment, a_balance""")
  )

  /** Golden-record construction (survivorship merge) over the ER
    * clusters — the step AFTER q_er_clusters finds duplicate groups: one
    * canonical row per multi-member entity with field-level survivorship
    * rules (first name by lowest key, modal nation and segment with
    * lowest-value tie-break, maximum balance). Every rule is an exact
    * aggregate — min-of-struct, count-mode via (count desc, value)
    * row_number, integer-cent max — so the merged record is
    * deterministic and the oracle replays the same closure + rules over
    * the recursive-CTE components. Scale shape: the cluster relation is
    * pair-graph-sized; each survivorship rule is one partial-aggregated
    * rollup keyed by entity. */
  val qGoldenRecord = GraftQuery(
    "q_golden_record",
    (s, dir) => {
      import s.implicits._
      val pairs = graft.operators.FuzzyMatch.nameDupPairs(
        Tables.customer(s, dir), "c_custkey", "c_name",
        maxDist = 1, tailDrop = 2)
      val comp = graft.operators.Dedup.connectedComponents(
        pairs.select($"id_a", $"id_b"))
      // mem is consumed three times (the base rollup + both mode
      // passes); cached, the customer scan + entity join run once
      val mem = graft.operators.Caches.register(
        comp.select($"label".as("entity"), $"id")
          .join(Tables.customer(s, dir), $"id" === $"c_custkey"))
      val base = mem.groupBy($"entity").agg(
        count(lit(1)).as("n_members"),
        min(struct($"c_custkey", $"c_name")).as("m"),
        max(floor($"c_acctbal" * 100 + 0.5).cast("long")).as("mx"))
        .select($"entity", $"n_members", $"m.c_name".as("name_first"), $"mx")
      // both mode rollups ride ONE member-grain pass: the (entity,
      // nation, segment) combo counts are rolled up once from mem, and
      // each field's per-value count is the sum of its combo counts —
      // identical counts, identical (cnt desc, value) argmax, one fewer
      // full scan + exchange over the member relation (r16; the combo
      // relation is entity-grain-small so the two follow-up rollups are
      // noise)
      val combos = graft.operators.Caches.register(
        mem.groupBy($"entity", $"c_nationkey", $"c_mktsegment")
          .agg(count(lit(1)).as("cnt")))
      def mode(c: String, out: String) = combos
        .groupBy($"entity", col(c)).agg(sum($"cnt").as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"entity").orderBy($"cnt".desc, col(c))))
        .filter($"rn" === 1).select($"entity", col(c).as(out))
      base
        .join(mode("c_nationkey", "nation_mode"), "entity")
        .join(mode("c_mktsegment", "segment_mode"), "entity")
        .select($"entity", $"n_members", $"name_first",
          $"nation_mode".cast("long").as("nation_mode"), $"segment_mode",
          round($"mx".cast(DoubleType) / 100.0, 2).as("acctbal_max"))
        .orderBy($"entity")
    },
    Some("""WITH RECURSIVE c AS (SELECT c_custkey, c_name,
        substring(c_name, 1, GREATEST(length(c_name) - 2, 1)) AS blk
      FROM customer WHERE c_name IS NOT NULL),
      kept AS (SELECT blk FROM c GROUP BY blk HAVING COUNT(*) <= 10000),
      b AS (SELECT c.* FROM c JOIN kept USING (blk)),
      pairs AS (SELECT a.c_custkey AS id_a, d.c_custkey AS id_b
        FROM b a JOIN b d ON a.blk = d.blk AND a.c_custkey < d.c_custkey
        WHERE levenshtein(a.c_name, d.c_name) <= 1),
      edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
      walk(src, dst) AS (
        SELECT a, a FROM edges
        UNION
        SELECT w.src, e.b FROM walk w JOIN edges e ON w.dst = e.a),
      comp AS (SELECT src AS id, MIN(dst) AS entity FROM walk GROUP BY src),
      mem AS (SELECT comp.entity, cu.c_custkey, cu.c_name, cu.c_nationkey,
          cu.c_mktsegment, cu.c_acctbal
        FROM comp JOIN customer cu ON comp.id = cu.c_custkey),
      base AS (SELECT entity, COUNT(*) AS n_members,
          arg_min(c_name, c_custkey) AS name_first,
          MAX(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) AS mx
        FROM mem GROUP BY 1),
      nm AS (SELECT entity, c_nationkey AS nation_mode FROM (
          SELECT entity, c_nationkey, ROW_NUMBER() OVER (PARTITION BY entity
            ORDER BY COUNT(*) DESC, c_nationkey) AS rn
          FROM mem GROUP BY entity, c_nationkey) WHERE rn = 1),
      sm AS (SELECT entity, c_mktsegment AS segment_mode FROM (
          SELECT entity, c_mktsegment, ROW_NUMBER() OVER (PARTITION BY entity
            ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
          FROM mem GROUP BY entity, c_mktsegment) WHERE rn = 1)
      SELECT base.entity, base.n_members, base.name_first,
        CAST(nm.nation_mode AS BIGINT) AS nation_mode, sm.segment_mode,
        ROUND(CAST(base.mx AS DOUBLE) / 100.0, 2) AS acctbal_max
      FROM base JOIN nm USING (entity) JOIN sm USING (entity)
      ORDER BY entity""")
  )

  /** Simpson's-paradox audit of the price~quantity relationship: the
    * global OLS slope sign versus the within-nation slope signs — the
    * aggregation-reversal check that belongs next to every pooled KPI
    * (q_multi_ols's cautionary sibling). Slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) from exact integer-cent moments, so the SIGN
    * comparison — the entire point of the audit — is an exact decimal
    * comparison (denominators are always positive); slope values go
    * double only for display. Scale shape: one broadcast dim join
    * (supplier → nation), one map-side-combined 25-group moment rollup;
    * the global moments are the groups' exact sums. */
  val qSimpsons = GraftQuery(
    "q_simpsons",
    (s, dir) => {
      import s.implicits._
      val li = Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)
          .select($"s_suppkey", $"s_nationkey")), $"l_suppkey" === $"s_suppkey")
        .select($"s_nationkey".as("g"), $"l_quantity".cast("long").as("x"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("y"))
      val grp = li.groupBy($"g").agg(
        count(lit(1)).as("n"),
        dec38(sum(dec38($"x"))).as("sx"), dec38(sum(dec38($"y"))).as("sy"),
        dec38(sum(dec38($"x") * dec38($"x"))).as("sxx"),
        dec38(sum(dec38($"x") * dec38($"y"))).as("sxy"))
        .withColumn("num", dec38($"n") * $"sxy" - $"sx" * $"sy")
        .withColumn("den", dec38($"n") * $"sxx" - $"sx" * $"sx")
      val glob = grp.agg(
        dec38(sum($"n")).as("n"), dec38(sum($"sx")).as("sx"),
        dec38(sum($"sy")).as("sy"), dec38(sum($"sxx")).as("sxx"),
        dec38(sum($"sxy")).as("sxy"))
        .select((($"n" * $"sxy") - ($"sx" * $"sy")).as("gnum"),
          (($"n" * $"sxx") - ($"sx" * $"sx")).as("gden"))
      grp.crossJoin(broadcast(glob))
        .agg(
          count(lit(1)).as("n_groups"),
          sum(when(($"num" > 0 && $"gnum" <= 0) || ($"num" < 0 && $"gnum" >= 0)
            || ($"num" === 0 && $"gnum" =!= 0), 1L).otherwise(0L)).as("n_disagree"),
          max(round($"gnum".cast(DoubleType) / $"gden".cast(DoubleType) / 100.0, 6))
            .as("global_slope"),
          round(min($"num".cast(DoubleType) / $"den".cast(DoubleType) / 100.0), 6)
            .as("min_group_slope"),
          round(max($"num".cast(DoubleType) / $"den".cast(DoubleType) / 100.0), 6)
            .as("max_group_slope"))
    },
    Some("""WITH li AS (SELECT s.s_nationkey AS g, CAST(l_quantity AS BIGINT) AS x,
        CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey),
      grp AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
          SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
          SUM(CAST(x AS HUGEINT) * x) AS sxx, SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM li GROUP BY 1),
      gd AS (SELECT g, n * sxy - sx * sy AS num, n * sxx - sx * sx AS den FROM grp),
      gtot AS (SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
          SUM(sxx) AS sxx, SUM(sxy) AS sxy FROM grp),
      gg AS (SELECT n * sxy - sx * sy AS gnum, n * sxx - sx * sx AS gden FROM gtot)
      SELECT COUNT(*) AS n_groups,
        CAST(SUM(CASE WHEN (num > 0 AND gnum <= 0) OR (num < 0 AND gnum >= 0)
          OR (num = 0 AND gnum <> 0) THEN 1 ELSE 0 END) AS BIGINT) AS n_disagree,
        MAX(ROUND(CAST(gnum AS DOUBLE) / CAST(gden AS DOUBLE) / 100.0, 6))
          AS global_slope,
        ROUND(MIN(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0), 6)
          AS min_group_slope,
        ROUND(MAX(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0), 6)
          AS max_group_slope
      FROM gd, gg""")
  )

  /** Degree assortativity of the part co-purchase graph: the Pearson
    * correlation of endpoint degrees over the undirected edge list —
    * one number answering "do popular parts co-occur with popular
    * parts" (positive = assortative hubs, negative = hub-and-spoke).
    * Co-purchase pairs are order-bounded (≤ ~7 lineitems per order →
    * ≤ 21 pairs), degrees are distinct-partner counts, and all
    * correlation moments are exact decimal sums — one final
    * sqrt/divide. Scale shape: pair generation is the q_copurchase
    * within-order self-join (never cross-order), then two degree-keyed
    * rollups. */
  val qAssortativity = GraftQuery(
    "q_assortativity",
    (s, dir) => {
      import s.implicits._
      // NOTE (r16, measured and kept as-is): the duplicated pair-
      // generator subtrees below (union branches + degree joins) LOOK
      // like 24 parquet scans in the static plan, but the whole query is
      // ONE job and runtime exchange reuse shares the pair generation
      // across every branch. A cache-based restructure (op + pairs
      // cached, half-edge moment identities) measured min 4.07 s vs
      // 3.57 s same-window — the serialized cache-materialization jobs
      // cost more than the reuse already saves. Guide §1.3: reverted.
      val op = Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      val pairs = op.as("a").join(op.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      val und = pairs.union(pairs.select($"v".as("u"), $"u".as("v")))
      val deg = und.groupBy($"u".as("id")).agg(count(lit(1)).as("deg"))
      val e = und
        .join(deg.select($"id".as("u"), $"deg".as("du")), "u")
        .join(deg.select($"id".as("v"), $"deg".as("dv")), "v")
      e.agg(
          (count(lit(1)) / 2).cast("long").as("n_edges"),
          dec38(count(lit(1))).as("m"),
          dec38(sum(dec38($"du"))).as("sx"), dec38(sum(dec38($"dv"))).as("sy"),
          dec38(sum(dec38($"du") * dec38($"du"))).as("sxx"),
          dec38(sum(dec38($"dv") * dec38($"dv"))).as("syy"),
          dec38(sum(dec38($"du") * dec38($"dv"))).as("sxy"))
        .select($"n_edges",
          round(($"m" * $"sxy" - $"sx" * $"sy").cast(DoubleType) /
            sqrt(($"m" * $"sxx" - $"sx" * $"sx").cast(DoubleType) *
                 ($"m" * $"syy" - $"sy" * $"sy").cast(DoubleType)), 6)
            .as("assortativity"))
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      pairs AS (SELECT DISTINCT a.p AS u, b.p AS v
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
      und AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      deg AS (SELECT u AS id, CAST(COUNT(*) AS HUGEINT) AS deg FROM und GROUP BY 1),
      e AS (SELECT d1.deg AS du, d2.deg AS dv
        FROM und JOIN deg d1 ON und.u = d1.id JOIN deg d2 ON und.v = d2.id),
      m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m, COUNT(*) / 2 AS n_edges,
          SUM(du) AS sx, SUM(dv) AS sy, SUM(du * du) AS sxx,
          SUM(dv * dv) AS syy, SUM(du * dv) AS sxy
        FROM e)
      SELECT CAST(n_edges AS BIGINT) AS n_edges,
        ROUND(CAST(m * sxy - sx * sy AS DOUBLE) /
          SQRT(CAST(m * sxx - sx * sx AS DOUBLE) *
               CAST(m * syy - sy * sy AS DOUBLE)), 6) AS assortativity
      FROM m""")
  )

  /** Item-to-item cosine recommendations from co-purchase evidence —
    * the classic "customers who bought X also bought Y" memory-based
    * recommender: cos(i,j) = cooc(i,j)/√(n_i·n_j) over order baskets,
    * top-3 recommendations for each of the 20 most-purchased anchor
    * parts. Cosines are single sqrt/divides of exact integers; ranking
    * ties break by (cooc desc, partner id). Scale shape: within-order
    * pair generation (order-size bounded), anchor restriction broadcasts
    * BEFORE the partner join, the top-3 is a 20-partition window. */
  val qItemRecs = GraftQuery(
    "q_item_recs",
    (s, dir) => {
      import s.implicits._
      // op feeds the per-part counts AND both sides of the pair
      // self-join; pairs feeds both union branches — cached, the corpus
      // scan and the within-order self-join run once (uncached: 12
      // parquet scans in the before plan). n is a cheap rollup of the
      // cached op but is itself read twice (anchors + the partner
      // join), so it caches too — it is vocabulary-sized (one row per
      // distinct part).
      val op = graft.operators.Caches.register(Tables.lineitem(s, dir)
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct())
      val n = graft.operators.Caches.register(
        op.groupBy($"p").agg(count(lit(1)).as("n_ord")))
      val pairs = graft.operators.Caches.register(
        op.as("a").join(op.as("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("cooc")))
      val und = pairs.union(pairs.select($"v".as("u"), $"u".as("v"), $"cooc"))
      val anchors = n.orderBy($"n_ord".desc, $"p").limit(20)
        .select($"p".as("u"), $"n_ord".as("nu"))
      val scored = und.join(broadcast(anchors), "u")
        .join(n.select($"p".as("v"), $"n_ord".as("nv")), "v")
        .withColumn("cosine", $"cooc".cast(DoubleType) /
          sqrt($"nu".cast(DoubleType) * $"nv".cast(DoubleType)))
      scored.withColumn("rank", row_number().over(
          Window.partitionBy($"u").orderBy($"cosine".desc, $"cooc".desc, $"v")))
        .filter($"rank" <= 3)
        .select($"u".as("anchor"), $"rank".cast("long").as("rank"),
          $"v".as("rec"), $"cooc", round($"cosine", 6).as("cosine"))
        .orderBy($"anchor", $"rank")
    },
    Some("""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      np AS (SELECT p, COUNT(*) AS n_ord FROM op GROUP BY 1),
      pairs AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS cooc
        FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
      und AS (SELECT u, v, cooc FROM pairs UNION ALL SELECT v, u, cooc FROM pairs),
      anchors AS (SELECT p AS u, n_ord AS nu FROM np ORDER BY n_ord DESC, p LIMIT 20),
      scored AS (SELECT und.u, und.v, und.cooc,
          CAST(und.cooc AS DOUBLE) / SQRT(CAST(a.nu AS DOUBLE) * CAST(n2.n_ord AS DOUBLE))
            AS cosine
        FROM und JOIN anchors a ON und.u = a.u JOIN np n2 ON und.v = n2.p),
      r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY u
          ORDER BY cosine DESC, cooc DESC, v) AS rank FROM scored)
      SELECT u AS anchor, CAST(rank AS BIGINT) AS rank, v AS rec, cooc,
        ROUND(cosine, 6) AS cosine
      FROM r WHERE rank <= 3 ORDER BY anchor, rank""")
  )

  /** Empirical-Bayes (beta-binomial) shrinkage of per-part return
    * rates — the principled version of q_target_encode's smoothing: the
    * prior (α, β) is estimated from the data by method of moments over
    * parts with ≥5 lineitems (rates quantized to ppm so the moment sums
    * are exact integers; μ(1−μ)/s² − 1 gives the prior strength M,
    * clamped to ≥1), and every part's rate shrinks to
    * (x + μM)/(n + M). Emits the 15 biggest movers |raw − shrunk| —
    * exactly the low-volume parts whose raw rates were noise. All
    * float expressions are single identical formulas over exact
    * integer moments. Scale shape: one part-keyed rollup, one 1-row
    * prior, a TakeOrdered top-15. */
  val qEbShrinkage = GraftQuery(
    "q_eb_shrinkage",
    (s, dir) => {
      import s.implicits._
      val parts = Tables.lineitem(s, dir).groupBy($"l_partkey").agg(
        count(lit(1)).as("n"),
        sum(when($"l_returnflag" === "R", 1L).otherwise(0L)).as("x"))
      val withP = parts.withColumn("p_ppm",
        floor($"x".cast(DoubleType) * 1e6 / $"n" + 0.5).cast("long"))
      val prior = withP.filter($"n" >= 5L).agg(
          count(lit(1)).as("k"),
          dec38(sum(dec38($"p_ppm"))).as("sp"),
          dec38(sum(dec38($"p_ppm") * dec38($"p_ppm"))).as("spp"),
          dec38(sum(dec38($"x"))).as("sx"), dec38(sum(dec38($"n"))).as("sn"))
        .select(
          ($"sx".cast(DoubleType) / $"sn".cast(DoubleType)).as("mu"),
          ((dec38($"k") * $"spp" - $"sp" * $"sp").cast(DoubleType) /
            (dec38($"k") * dec38($"k")).cast(DoubleType) / 1e12).as("s2"))
        .select($"mu",
          greatest(lit(1.0), $"mu" * (lit(1.0) - $"mu") / $"s2" - 1.0).as("bigm"))
      withP.crossJoin(broadcast(prior))
        .withColumn("raw", $"p_ppm".cast(DoubleType) / 1e6)
        .withColumn("shrunk",
          ($"x".cast(DoubleType) + $"mu" * $"bigm") / ($"n".cast(DoubleType) + $"bigm"))
        .withColumn("mv", abs($"raw" - $"shrunk"))
        .orderBy($"mv".desc, $"l_partkey")
        .limit(15)
        .select($"l_partkey", $"n", $"x", round($"raw", 6).as("raw_rate"),
          round($"shrunk", 6).as("shrunk_rate"), round($"mv", 6).as("abs_move"))
    },
    Some("""WITH parts AS (SELECT l_partkey, COUNT(*) AS n,
        CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM lineitem GROUP BY 1),
      wp AS (SELECT *, CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 / n + 0.5) AS BIGINT)
        AS p_ppm FROM parts),
      pr AS (SELECT CAST(COUNT(*) AS HUGEINT) AS k,
          SUM(CAST(p_ppm AS HUGEINT)) AS sp,
          SUM(CAST(p_ppm AS HUGEINT) * p_ppm) AS spp,
          SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(n AS HUGEINT)) AS sn
        FROM wp WHERE n >= 5),
      pm AS (SELECT CAST(sx AS DOUBLE) / CAST(sn AS DOUBLE) AS mu,
          CAST(k * spp - sp * sp AS DOUBLE) / CAST(k * k AS DOUBLE) / 1e12 AS s2
        FROM pr),
      pb AS (SELECT mu, GREATEST(1.0, mu * (1.0 - mu) / s2 - 1.0) AS bigm FROM pm),
      sc AS (SELECT l_partkey, n, x,
          CAST(p_ppm AS DOUBLE) / 1e6 AS raw,
          (CAST(x AS DOUBLE) + mu * bigm) / (CAST(n AS DOUBLE) + bigm) AS shrunk
        FROM wp, pb)
      SELECT l_partkey, n, x, ROUND(raw, 6) AS raw_rate,
        ROUND(shrunk, 6) AS shrunk_rate, ROUND(ABS(raw - shrunk), 6) AS abs_move
      FROM sc ORDER BY ABS(raw - shrunk) DESC, l_partkey LIMIT 15""")
  )

  /** Decision-stump learner: the best Gini split per candidate feature
    * (quantity, discount, ship month) for predicting a returned line
    * (l_returnflag = 'R') — the single-node kernel every tree ensemble
    * repeats, and the q_isotonic lesson applied: thresholds are
    * evaluated by PREFIX SUMS over the bounded distinct-value relation
    * (≤50 rows per feature), never by sorting the fact table. One fact
    * pass fans each row out to its 3 (feature, value) pairs; the
    * weighted-Gini expression is a single double tree over exact BIGINT
    * prefix counts, so the argmin (Gini asc, value asc) bit-matches.
    * Output: per feature, the best threshold with its impurity drop. */
  val qDecisionStump = GraftQuery(
    "q_decision_stump",
    (s, dir) => {
      import s.implicits._
      val dv = Tables.lineitem(s, dir)
        .select(($"l_returnflag" === "R").cast("long").as("y"),
          explode(array(
            struct(lit("discount").as("feat"), $"l_discount".as("v")),
            struct(lit("month").as("feat"),
              month($"l_shipdate").cast(DoubleType).as("v")),
            struct(lit("quantity").as("feat"), $"l_quantity".as("v")))).as("fv"))
        .groupBy($"fv.feat".as("feat"), $"fv.v".as("v"))
        .agg(count(lit(1)).as("cnt"), sum($"y").as("pos"))
      val tot = dv.groupBy($"feat")
        .agg(sum($"cnt").as("n"), sum($"pos").as("p"))
      val w = Window.partitionBy($"feat").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = dv
        .withColumn("nl", sum($"cnt").over(w))
        .withColumn("pl", sum($"pos").over(w))
        .join(broadcast(tot), "feat")
        .filter($"nl" < $"n")
        .withColumn("nr", $"n" - $"nl")
        .withColumn("pr", $"p" - $"pl")
        .withColumn("gini",
          (($"nl".cast(DoubleType) -
            ($"pl" * $"pl" + ($"nl" - $"pl") * ($"nl" - $"pl")).cast(DoubleType) /
              $"nl".cast(DoubleType)) +
           ($"nr".cast(DoubleType) -
            ($"pr" * $"pr" + ($"nr" - $"pr") * ($"nr" - $"pr")).cast(DoubleType) /
              $"nr".cast(DoubleType))) / $"n".cast(DoubleType))
        .withColumn("base_gini",
          lit(1.0) - ($"p".cast(DoubleType) / $"n".cast(DoubleType)) *
            ($"p".cast(DoubleType) / $"n".cast(DoubleType)) -
            (($"n" - $"p").cast(DoubleType) / $"n".cast(DoubleType)) *
            (($"n" - $"p").cast(DoubleType) / $"n".cast(DoubleType)))
      scored
        .withColumn("rn", row_number().over(
          Window.partitionBy($"feat").orderBy($"gini", $"v")))
        .filter($"rn" === 1)
        .select($"feat", $"v".as("threshold"), $"nl".as("n_left"),
          $"nr".as("n_right"), round($"gini", 6).as("gini"),
          round($"base_gini", 6).as("base_gini"),
          round($"base_gini" - $"gini", 6).as("gain"))
        .orderBy($"feat")
    },
    Some("""WITH fv AS (
        SELECT 'discount' AS feat, l_discount AS v,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y FROM lineitem
        UNION ALL
        SELECT 'month', CAST(EXTRACT(month FROM l_shipdate) AS DOUBLE),
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
        UNION ALL
        SELECT 'quantity', l_quantity,
          CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
      dv AS (SELECT feat, v, CAST(COUNT(*) AS BIGINT) AS cnt,
          CAST(SUM(y) AS BIGINT) AS pos FROM fv GROUP BY 1, 2),
      tot AS (SELECT feat, CAST(SUM(cnt) AS BIGINT) AS n,
          CAST(SUM(pos) AS BIGINT) AS p FROM dv GROUP BY 1),
      pre AS (SELECT feat, v,
          CAST(SUM(cnt) OVER (PARTITION BY feat ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS nl,
          CAST(SUM(pos) OVER (PARTITION BY feat ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pl
        FROM dv),
      sc AS (SELECT pre.feat, v, nl, pl, n - nl AS nr, p - pl AS pr, n, p,
          ((CAST(nl AS DOUBLE) -
            CAST(pl * pl + (nl - pl) * (nl - pl) AS DOUBLE) / CAST(nl AS DOUBLE)) +
           (CAST(n - nl AS DOUBLE) -
            CAST((p - pl) * (p - pl) + ((n - nl) - (p - pl)) * ((n - nl) - (p - pl))
              AS DOUBLE) / CAST(n - nl AS DOUBLE))) / CAST(n AS DOUBLE) AS gini,
          1.0 - (CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) *
            (CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) -
            (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)) *
            (CAST(n - p AS DOUBLE) / CAST(n AS DOUBLE)) AS base_gini
        FROM pre JOIN tot ON tot.feat = pre.feat WHERE nl < n),
      best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY feat ORDER BY gini, v) AS rn
        FROM sc)
      SELECT feat, v AS threshold, nl AS n_left, nr AS n_right,
        ROUND(gini, 6) AS gini, ROUND(base_gini, 6) AS base_gini,
        ROUND(base_gini - gini, 6) AS gain
      FROM best WHERE rn = 1 ORDER BY feat""")
  )

  /** Per-community CONDUCTANCE panel over the LPA partition of the
    * kNN trade graph — the complement of q_modularity's single global
    * score: φ(S) = cut(S) / min(vol(S), vol(V∖S)) per community
    * (Shi-Malik normalized-cut objective; low φ = well-separated
    * cluster, φ → 1 = a community that leaks most of its edge mass).
    * The audit that says WHICH communities of a partition are real.
    * Reuses the deterministic 4-round label propagation and its
    * unrolled-CTE oracle (`lpaCtes`); cut and volume are conditional
    * INTEGER sums over the symmetrized edge relation with labels
    * broadcast — engine-exact, one double division per community row.
    *
    * Scale: identical to q_modularity — the graph is vocabulary-bounded
    * here; on an unbounded graph the same two label-joined integer
    * rollups are one shuffle each, labels broadcast or bucketed. */
  val qConductance = GraftQuery(
    "q_conductance",
    (s, dir) => {
      import s.implicits._
      // kn cached: the symmetrize below and LPA's own both read it
      // (uncached, the 4-way trade join ran twice per execution)
      val kn = graft.operators.Caches.register(knnEdges(tradeEdges(s, dir), 3))
      val e = kn.select($"src", $"dst", $"w")
      val sym = graft.operators.Caches.register(
        e.union(e.select($"dst".as("src"), $"src".as("dst"), $"w"))
          .filter($"src" =!= $"dst")
          .groupBy($"src", $"dst").agg(sum($"w").as("w")))
      val labels = graft.operators.Caches.register(
        Graphs.labelPropagation(kn, "src", "dst", "w", rounds = 4))
      val la = labels.select($"id".as("src"), $"lab".as("lab_a"))
      val lb = labels.select($"id".as("dst"), $"lab".as("lab_b"))
      val j = sym.join(broadcast(la), "src").join(broadcast(lb), "dst")
      val m2 = j.agg(sum($"w").as("m2"))
      j.groupBy($"lab_a".as("lab"))
        .agg(countDistinct($"src").as("n_nodes"),
          sum($"w").as("vol"),
          sum(when($"lab_a" =!= $"lab_b", $"w").otherwise(0L)).as("cut"))
        .crossJoin(broadcast(m2))
        .select($"lab", $"n_nodes", $"vol", $"cut",
          when(least($"vol", $"m2" - $"vol") > 0L,
            round($"cut".cast("double") /
              least($"vol", $"m2" - $"vol").cast("double"), 6))
            .otherwise(lit(0.0)).as("conductance"))
        .orderBy($"lab")
    },
    Some(s"""WITH ${lpaCtes(4)},
      j AS (SELECT sym.src, sym.w, la.lab AS lab_a, lb.lab AS lab_b
        FROM sym JOIN l4 la ON sym.src = la.id JOIN l4 lb ON sym.dst = lb.id),
      m AS (SELECT CAST(SUM(w) AS BIGINT) AS m2 FROM j),
      g AS (SELECT lab_a AS lab, COUNT(DISTINCT src) AS n_nodes,
          CAST(SUM(w) AS BIGINT) AS vol,
          CAST(SUM(CASE WHEN lab_a <> lab_b THEN w ELSE 0 END) AS BIGINT) AS cut
        FROM j GROUP BY 1)
      SELECT lab, n_nodes, vol, cut,
        CASE WHEN LEAST(vol, m2 - vol) > 0
          THEN ROUND(CAST(cut AS DOUBLE) /
            CAST(LEAST(vol, m2 - vol) AS DOUBLE), 6)
          ELSE 0.0 END AS conductance
      FROM g, m ORDER BY lab""")
  )

  /** Near-dup cluster census over the same df-capped 3-gram Jaccard
    * pair graph as q_dedup_components, closed by
    * [[graft.operators.Dedup.connectedComponents]]: driver union-find
    * under [[graft.operators.DriverLoop.maxRows]] edges, O(log n)-round
    * star contraction (Kiveris et al. 2014) above it — the path that
    * survives a pair graph too large for any single machine. Output is
    * the per-component rollup (component = min doc_id, member count),
    * i.e. the dup-cluster size census a dedup job reports at 100 TB.
    *
    * Scale: the pair graph is the post-blocking artifact (df-capped, so
    * no hot-shingle pair explosion); each star round is two
    * rollup+join-back shapes keyed on a vertex with per-round
    * checkpoints; rounds are O(log n) even on chain-shaped dup clusters
    * where plain label propagation pays O(diameter). */
  val qCcBigstar = GraftQuery(
    "q_cc_bigstar",
    (s, dir) => {
      import s.implicits._
      val pairs = graft.operators.Dedup.ngramJaccardPairs(
        Tables.documents(s, dir), "doc_id", "text",
        k = 3, minJaccard = 0.5, maxDf = 100)
      graft.operators.Dedup.connectedComponents(pairs)
        .groupBy($"label".as("component"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy($"component")
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
      SELECT component, COUNT(*) AS n_members FROM (
        SELECT src AS id, MIN(dst) AS component FROM walk GROUP BY src)
      GROUP BY component ORDER BY component""")
  )

  /** Corpus-adaptive DBSCAN radius: eps halves each time the point count
    * quadruples past 1500 (integer ladder, mirrored literally in the
    * oracle CASE). 2-D density invariance: at a fixed coordinate range,
    * density ∝ N, so holding N·eps² ~ constant keeps the expected
    * eps-ball population — and with it cell occupancy, candidate volume
    * per point, and the MEANING of minPts — steady across decades. A
    * fixed eps would grow candidates quadratically, the same
    * fixed-parameter rot the LSH plane ladder fixed (SCALING.md census). */
  private def dbscanEpsFor(n: Long): Long = {
    var k = 0
    while (k < 8 && n >= 1500L * (1L << (2 * (k + 1)))) k += 1
    1000L >> k
  }

  /** DBSCAN density clustering of the customer (order count, spend)
    * plane — the clustering family k-means can't cover: arbitrary-shape
    * clusters plus an explicit NOISE class, no k to guess. Features are
    * integer micro-units (count × 1000, cents ÷ 25000 — both land in
    * ~[1000, 25000]), distances exact BIGINT math, so the whole chain is
    * engine-portable. The oracle replays it WITHOUT the grid: a plain
    * O(N²) distance join plus recursive-CTE closure — semantically
    * equivalent (3×3 cell coverage is exhaustive for radius eps), which
    * makes the gate check the GRID ITSELF, not just downstream math.
    * Cluster ids are min-member-id (deterministic); border ties resolve
    * to the minimum core label. */
  val qDbscan = GraftQuery(
    "q_dbscan",
    (s, dir) => {
      import s.implicits._
      val f = Tables.orders(s, dir).groupBy($"o_custkey".as("id"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
      val pts = graft.operators.Caches.register(f.select($"id",
        ($"n_orders" * 1000L).as("xm"), expr("cents div 25000").as("ym")))
      val eps = dbscanEpsFor(pts.count())
      graft.operators.Density.dbscan(pts, eps, minPts = 5)
        .orderBy($"id")
    },
    Some("""WITH RECURSIVE f AS (SELECT o_custkey AS id, COUNT(*) AS n_orders,
        SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY 1),
      params AS (SELECT CASE WHEN COUNT(*) >= 98304000 THEN 3
          WHEN COUNT(*) >= 24576000 THEN 7
          WHEN COUNT(*) >= 6144000 THEN 15
          WHEN COUNT(*) >= 1536000 THEN 31
          WHEN COUNT(*) >= 384000 THEN 62
          WHEN COUNT(*) >= 96000 THEN 125
          WHEN COUNT(*) >= 24000 THEN 250
          WHEN COUNT(*) >= 6000 THEN 500
          ELSE 1000 END AS eps FROM f),
      pts AS (SELECT id, n_orders * 1000 AS xm, cents // 25000 AS ym FROM f),
      nbr AS (SELECT a.id AS id, b.id AS nb
        FROM pts a JOIN pts b ON a.id <> b.id
          AND (a.xm - b.xm) * (a.xm - b.xm) + (a.ym - b.ym) * (a.ym - b.ym)
            <= (SELECT eps * eps FROM params)),
      cores AS (SELECT id FROM nbr GROUP BY id HAVING COUNT(*) >= 4),
      eu AS (SELECT n.id AS a, n.nb AS b FROM nbr n
        WHERE n.id IN (SELECT id FROM cores) AND n.nb IN (SELECT id FROM cores)),
      walk(src, dst) AS (
        SELECT a, a FROM eu
        UNION
        SELECT w.src, e.b FROM walk w JOIN eu e ON w.dst = e.a),
      linked AS (SELECT src AS id, MIN(dst) AS cluster FROM walk GROUP BY src),
      corelbl AS (SELECT c.id, COALESCE(l.cluster, c.id) AS cluster
        FROM cores c LEFT JOIN linked l ON c.id = l.id),
      border AS (SELECT n.id, MIN(cl.cluster) AS cluster
        FROM nbr n JOIN corelbl cl ON n.nb = cl.id
        WHERE n.id NOT IN (SELECT id FROM cores) GROUP BY n.id),
      lab AS (SELECT id, 'core' AS role, cluster FROM corelbl
        UNION ALL SELECT id, 'border', cluster FROM border
        UNION ALL SELECT id, 'noise', -1 FROM pts
          WHERE id NOT IN (SELECT id FROM corelbl)
            AND id NOT IN (SELECT id FROM border))
      SELECT id, role, CAST(cluster AS BIGINT) AS cluster
      FROM lab ORDER BY id""")
  )

  val all: Seq[GraftQuery] =
    Seq(qSkyline, qFellegiSunter, qGoldenRecord, qSimpsons, qDecisionStump, qCcBigstar, qDbscan,
      qAssortativity, qItemRecs, qEbShrinkage,
      qPagerank, qPpr, qTextrank, qAssocRules, qPareto, qRiAudit, qEventTrigrams,
      qCollocations, qSessionConcurrency, qGraphDegrees, qErClusters,
      qTriangles, qGini, qKsDrift, qKcore, qMutualInfo, qHits,
      qCorrMatrix, qTargetEncode, qCopurchase, qMultiOls,
      qChisqIndependence, qHhi, qLabelProp, qBfsHops, qAdamicAdar,
      qModularity, qCloseness, qConductance)
}
