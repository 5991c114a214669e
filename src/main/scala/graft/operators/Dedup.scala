package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DecimalType, IntegerType, LongType, ShortType}

/** Deduplication operator family for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * The near-dup blocking family (MinHash, LSH bands, SimHash, winnowing)
  * runs ONE scheme: the portable hash family of
  * [[graft.expressions.TextHashKernels]] (base-31/131 polynomial token
  * and shingle hashes, affine slot re-hashing, a base-131 band fold) —
  * integer arithmetic a SQL engine reproduces bit-for-bit, which is what
  * lets every registered near-dup query carry a DuckDB oracle. The
  * exact shingle-set operators ([[ngramJaccardPairs]],
  * [[containmentPairs]], [[sourceOverlap]]) keep the xxhash64 shingle
  * kernel: they count shared shingles, so only hash equality matters.
  *
  * Scale notes (100 TB):
  *  - exact dedup is one shuffle on the 16-byte fingerprint — the text
  *    itself never shuffles;
  *  - MinHash/LSH shuffles (id, band-hash) pairs, O(docs × bands) small
  *    rows; candidate verification touches only bucket-mates;
  *  - SimHash is map-only per doc (64-bit sketch), pairs come from
  *    banding the sketch the same way;
  *  - everything is expression-level — no UDF, no driver collect.
  */
object Dedup {

  /** Default document-frequency cap for the blocked pair generators: a
    * blocking key (shingle / fingerprint / LSH bucket) occurring in more
    * than this many docs is dropped before the self-join. Rationale: a
    * key shared by f docs contributes f·(f-1)/2 candidate rows ON ONE
    * REDUCER — at 10k that is ~5·10⁷ rows from a single key, the classic
    * skewed-corpus scale-killer — while a key common to 10k documents
    * (boilerplate, stop-shingles) carries no near-duplicate signal. */
  val DefaultMaxDf = 10000

  /** Drop rows whose blocking key occurs more than `maxDf` times.
    * `maxDf <= 0` disables the cap. One partial-aggregated pass computes
    * per-key frequency (tiny: map-side combine reduces to distinct keys),
    * then a semi-join on the same key — which the subsequent self-join
    * also shuffles on, so the exchange is reused. Hot keys are never
    * buffered anywhere (no window over the key). */
  private[operators] def dropHotKeys(
      keyed: DataFrame, keyCols: Seq[String], maxDf: Int): DataFrame =
    if (maxDf <= 0) keyed
    else {
      val kept = keyed.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf)
        .select(keyCols.map(col): _*)
      keyed.join(kept, keyCols, "left_semi")
    }

  /** Exact near-duplicate groups via normalized-content fingerprint:
    * keep the min-id doc per group, count members. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))

  /** MinHash signatures as a DataFrame (id, sig):
    *  1. shingle hashes materialize ONCE per doc (native ShingleHashes64
    *     kernel — the portable base-31 polynomial of the shingle bytes);
    *  2. the `numHashes` functions derive from the base hash via cheap
    *     affine re-hashing (native MinHashSignature kernel) — never
    *     re-tokenizing.
    * Both steps are fused imperative loops (graft.expressions
    * .TextHashKernels) whose arithmetic [[graft.analytics.MinhashOracle]]
    * replays in SQL. */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.expressions.TextHashExprs.minhashSignature(
          graft.expressions.TextHashExprs.shingleHashes64(
            TextAnalysis.tokens(col(textCol)), k, portable = true),
          numHashes, portable = true).as("sig"))

  /** LSH candidate pairs from a signature DF: band the signature (`bands`
    * bands of rowsPerBand rows), bucket-join docs sharing any band hash.
    * Buckets with more than `maxBucket` members are dropped before the
    * join ([[dropHotKeys]]): a bucket of f docs yields f²/2 candidates on
    * one reducer, and an over-full bucket means the band hash has
    * degenerated (boilerplate corpus) — it no longer separates near-dups
    * from the crowd. Returns (id_a, id_b) with id_a < id_b, distinct. */
  def lshCandidates(sig: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucket: Int = DefaultMaxDf): DataFrame = {
    require(bands > 0 && rowsPerBand > 0,
      s"bands=$bands rowsPerBand=$rowsPerBand must be positive")
    // band key: a base-131 fold of the slots seeded with the band index —
    // the same arithmetic DuckDB runs as list_reduce(list_prepend(band,
    // slice), (acc, s) -> (acc*131 + s) % 1000000007)
    val bandKey: Int => Column = b =>
      aggregate(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
        lit(b.toLong),
        (acc, v) => (acc * lit(131L) + v) % lit(graft.expressions.TextHashKernels.PortableMod))
    val banded = dropHotKeys(
      sig.select(col("id"), posexplode(array((0 until bands).map(bandKey): _*)))
        .toDF("id", "band", "bhash"),
      Seq("band", "bhash"), maxBucket)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bhash") === col("b.bhash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** MinHash-estimated Jaccard for candidate pairs (fraction of agreeing
    * signature positions), filtered at `threshold`. The signature DF is
    * cached — it feeds the banding AND both sides of the verify join
    * (numDocs × numHashes longs; small relative to the corpus even at
    * billions of docs). */
  def minhashDedupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.6, maxBucket: Int = DefaultMaxDf): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (trailing slots would be silently ignored)")
    val sig = Caches.register(minhashSignatures(df, idCol, textCol, k, numHashes))
    minhashPairsFromSignatures(sig, numHashes, bands, threshold, maxBucket)
  }

  /** Banding + verification over an EXISTING signature relation (id,
    * sig) — the path a maintained minhash INDEX takes: signatures are
    * the persisted artifact (numHashes longs per doc, not the text), so
    * an incremental batch bands against index + batch signatures without
    * ever re-shingling history. Same candidate/verify semantics as
    * [[minhashDedupPairs]], which now delegates here. */
  def minhashPairsFromSignatures(
      sig: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int = DefaultMaxDf): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands=$bands must divide numHashes=$numHashes (trailing slots would be silently ignored)")
    val cand = lshCandidates(sig, bands, numHashes / bands, maxBucket)
    cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      // signature agreement via the fused native kernel — the HOF fold
      // (zip_with + when + aggregate) paid an interpreted lambda per
      // candidate pair × numHashes slots; identical integer result
      .withColumn("est_jaccard",
        call_function("graft_eq_count", col("sig_a"), col("sig_b"))
          .cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }


  /** Exact n-gram Jaccard for all pairs sharing at least one shingle:
    * explode-join-count — integer arithmetic end to end, so it doubles as
    * a DuckDB-comparable oracle query. Blocking by shared shingle keeps it
    * far below the full cross product.
    *
    * Shingles present in more than `maxDf` docs are removed from the
    * fingerprint space FIRST (stop-shingle removal, [[dropHotKeys]]):
    * both the intersection and the union are computed over the capped
    * set, so the Jaccard stays internally consistent. A shingle common
    * to thousands of docs is corpus boilerplate — it inflates every
    * pair's similarity equally while generating df² join rows on a
    * single reducer. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minJaccard: Double = 0.5,
      maxDf: Int = DefaultMaxDf): DataFrame =
    sharedShingles(df, idCol, textCol, k, maxDf)
      .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
      .filter(col("inter") * lit(100) >= col("uni") * lit((minJaccard * 100).toInt))
      .select(col("id_a"), col("id_b"), col("inter").cast(LongType),
        col("uni").cast(LongType))

  /** CONTAINMENT near-dup pairs (asymmetric Jaccard): inter/|smaller| —
    * detects a document INCLUDED in a larger one (quoting, expansion,
    * aggregation pages), which symmetric Jaccard structurally misses: a
    * 100-shingle doc fully contained in a 10000-shingle doc has
    * containment 1.0 but Jaccard < 0.01. Same df-capped shared-shingle
    * blocking and integer arithmetic as [[ngramJaccardPairs]] (the
    * filter cross-multiplies, so no engine compares a derived float);
    * emits (id_a, id_b, inter, n_a, n_b) with id_a < id_b and
    * containment = inter / least(n_a, n_b) ≥ minContainment. */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minContainment: Double = 0.8,
      maxDf: Int = DefaultMaxDf): DataFrame =
    sharedShingles(df, idCol, textCol, k, maxDf)
      .filter(col("inter") * lit(100) >=
        least(col("n_a"), col("n_b")) * lit((minContainment * 100).toInt))
      .select(col("id_a"), col("id_b"), col("inter").cast(LongType),
        col("n_a").cast(LongType), col("n_b").cast(LongType))

  /** The df-capped shared-shingle blocking behind [[ngramJaccardPairs]]
    * and [[containmentPairs]]: (id_a, id_b, inter, n_a, n_b) for every
    * doc pair with id_a < id_b that shares at least one capped k-shingle,
    * where `inter` counts the shared capped shingles and `n_a`/`n_b` each
    * doc's capped shingle count. */
  private def sharedShingles(df: DataFrame, idCol: String, textCol: String,
      k: Int, maxDf: Int): DataFrame = {
    // cache BOTH sides of the cap: the raw exploded set feeds the df
    // pass AND the semi-join left side (tokenize + shingle-hash would
    // otherwise run twice), and the capped set feeds the self-join
    // (twice) plus the per-doc sizes — shingle 64-bit hashes shuffle
    // instead of strings throughout. Storage tradeoff: the raw (id,
    // hash) set is ~16 B/shingle; at corpus sizes where that exceeds
    // cluster cache+spill capacity, drop THIS cache and pay the second
    // kernel pass instead (the capped cache below is what the join
    // performance depends on)
    val raw = Caches.register(df.select(col(idCol).as("id"),
      explode(graft.expressions.TextHashExprs.shingleHashes64(
        TextAnalysis.tokens(col(textCol)), k)).as("shingle")))
    val sh = Caches.register(dropHotKeys(raw, Seq("shingle"), maxDf))
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), "id_b")
  }

  /** Cross-source content overlap matrix: for every pair of sources, the
    * exact Jaccard of their df-capped k-shingle sets — which providers
    * mirror each other (and therefore double-count under per-source
    * quotas), reported at the SOURCE grain rather than the doc grain of
    * [[ngramJaccardPairs]]. The ground-truth counterpart of the
    * KMV-sketch estimate (q_source_similarity): run this exactly on a
    * sample or per-shard, the sketch everywhere.
    *
    * Scale: the (source, shingle-hash) relation after the doc-level
    * df-cap and per-source distinct is AT MOST sources × distinct
    * shingles but in practice ~the shingle vocabulary; the self-join
    * shuffles on the 8-byte hash, and a shingle surviving the cap joins
    * at most min(maxDf, sources)² source pairs — the same bound that
    * protects the pair generators. Output is ≤ sources²/2 rows; the
    * per-source set sizes broadcast back for the union term. */
  def sourceOverlap(
      df: DataFrame, idCol: String, textCol: String, srcCol: String,
      k: Int = 3, maxDf: Int = DefaultMaxDf): DataFrame = {
    val raw = df.select(col(idCol).as("id"), col(srcCol).as("src"),
      explode(graft.expressions.TextHashExprs.shingleHashes64(
        TextAnalysis.tokens(col(textCol)), k)).as("shingle"))
    // the cap counts DOC-frequency (raw is distinct (doc, shingle) by
    // kernel construction), exactly like the pair generators
    val srcSh = Caches.register(
      dropHotKeys(raw, Seq("shingle"), maxDf)
        .select(col("src"), col("shingle")).distinct())
    val sizes = srcSh.groupBy(col("src")).agg(count(lit(1)).as("n"))
    srcSh.as("a").join(srcSh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("jaccard",
        floor(col("n_shared") * lit(1000000.0) / (col("n_a") + col("n_b") - col("n_shared"))
          + lit(0.5)) / 1000000.0)
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
  }

  /** Winnowing-fingerprint near-dup pairs (Schleimer et al., SIGMOD'03):
    * each doc keeps only its window-minimum shingle hashes (~2/(w+1) of
    * them), pairs form on shared fingerprints — the same explode-join as
    * [[ngramJaccardPairs]] over a deterministically-thinned subset, so at
    * 100 TB both the shuffle volume AND the candidate count shrink ~4x at
    * w=7 while any shared run of ≥ w+k-1 tokens is still guaranteed to
    * collide. Returns pairs with the shared-fingerprint count. */
  def winnowPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxDf: Int = DefaultMaxDf): DataFrame = {
    // fingerprints in > maxDf docs are boilerplate, not near-dup signal —
    // drop them before the self-join (see dropHotKeys). The raw explode
    // is cached too: it feeds the df pass and the semi-join left side
    val raw = Caches.register(df.select(col(idCol).as("id"),
      explode(graft.expressions.TextHashExprs.winnowFingerprints(
        TextAnalysis.tokens(col(textCol)), k, w, portable = true)).as("fp")))
    val fp = Caches.register(dropHotKeys(raw, Seq("fp"), maxDf))
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared_fp"))
      .filter(col("shared_fp") >= minShared)
  }

  /** Connected components over a near-dup pair list: assembles the pairs
    * any of the generators above emit into DEDUP CLUSTERS — (id, label)
    * where label = the minimum id reachable through the pair graph. The
    * min-id member is the canonical survivor; everything else in the
    * component is a duplicate to drop. Only ids appearing in `pairs` are
    * labeled (singletons are their own component trivially), and ids
    * surface as LongType whichever path runs.
    *
    * One materialization of the edge set feeds the gate count and the
    * path it selects:
    *  - at most [[DriverLoop.maxRows]] UNDIRECTED edges close on the
    *    DRIVER via union-find ([[driverComponents]]: O(E α(E)), no
    *    rounds, ~16 B of driver heap per edge plus one output Row per
    *    vertex — the result relation itself);
    *  - above the gate, star contraction ([[starComponents]]) closes the
    *    graph in O(log n) distributed rounds whatever its diameter.
    *    Near-dup graphs are quasi-cliques, but dbscan's core skeletons
    *    are chains whose diameter grows with cluster extent, and a
    *    per-hop label loop cannot bound those.
    * Specs pin both paths to identical output under a bound of 0.
    *
    * `checkpointDir = Some(dir)` makes every materialization a DURABLE
    * checkpoint under `dir` that survives executor loss (see
    * [[DriverLoop.RoundCheckpoints]] for its single-writer caveat);
    * superseded generations are deleted as the rounds advance, so only
    * the returned relation's generation stays on disk. `maxIter` bounds
    * the star rounds — hitting it THROWS, because unconverged labels
    * split real clusters. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 40,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIter > 0, s"maxIter=$maxIter must be positive")
    // non-integral id columns are rejected loudly: a string→long cast
    // yields nulls, which would silently corrupt labels instead of failing
    Seq("id_a", "id_b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents: pair column $c must be an integral id type, got $t")
    }
    val spark = pairs.sparkSession
    val ckpt = new DriverLoop.RoundCheckpoints(spark, checkpointDir)
    // a null id fails in the edge projection itself, on both paths and
    // without a job of its own (star contraction's least/greatest would
    // skip it and label it null)
    def id(c: String): Column = when(col(c).isNull, raise_error(lit(
        "connectedComponents: null id in pair list — drop null-id rows upstream")))
      .otherwise(col(c).cast(LongType))
    // both directions emit from ONE pass over the pair relation (explode,
    // not a self-union): the incoming pairs are typically an expensive
    // blocked pair generator, and a union would execute that pipeline
    // once per branch inside this single materialization job (only the
    // generator's internal caches, not its joins, are shared) — measured
    // r16 on q_dedup_components: the second execution was ~40% of the
    // query
    val edges = ckpt(pairs.select(id("id_a").as("a"), id("id_b").as("b"))
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct(), eager = false)
    // the gate count is the action that materializes the lazy edge
    // checkpoint: one job for both. Self-loops count once.
    val nEdges = edges.filter(col("src") <= col("dst")).count()
    if (nEdges <= DriverLoop.maxRows) {
      // driverComponents materializes into driver arrays and returns a
      // local-rows relation — the edge checkpoint is dead once it returns
      val out = driverComponents(spark, edges)
      ckpt.delete(0)
      out
    } else starComponents(edges, maxIter, ckpt)
  }

  /** Connected components via ALTERNATING STAR CONTRACTIONS (the
    * "large-star / small-star" algorithm of Kiveris, Lattanzi, Mirrokni,
    * Rastogi & Vassilvitskii 2014, "Connected Components in MapReduce
    * and Beyond"): O(log n) rounds where plain min-label propagation pays
    * one round per hop of diameter — the star alternation halves the
    * tree height every round. `edges` is [[connectedComponents]]' directed
    * edge set.
    *
    * One round over the canonical (u < v) edge relation =
    *  - LARGE-STAR: every node x re-attaches each strictly-LARGER
    *    neighbor y to m(x) = min(Γ(x) ∪ {x}) — per-node rollup + one
    *    equi-join back, both keyed on x; emitted edges (m, y) keep
    *    m < y so no self-loops arise;
    *  - SMALL-STAR: every node x re-attaches its strictly-smaller
    *    neighbors (and itself) to their minimum — one rollup keyed on v
    *    + one equi-join back.
    * Both halves are rollup+join shapes — never a pair expansion — and
    * each materializes through `ckpt` (a round referenced lazily by the
    * next re-executes geometrically otherwise); small-star's local
    * checkpoint is LAZY, forced by the convergence checksum, so
    * materialization and convergence test share one job.
    *
    * Fixpoint detection without comparing edge sets row-by-row: the
    * canonical edge relation's (count, SUM of per-edge xxhash64 as
    * DECIMAL(38,0)) checksum — star contraction is a deterministic map
    * of the finite edge set, so an unchanged checksum across one full
    * round means the set itself is stable (modulo a vanishing 128-bit
    * collision chance, acceptable for a termination test — NOT for
    * labels, which are read off the materialized star forest itself).
    * 2·log2(n) rounds is the paper's bound.
    *
    * Scale: the edge relation only ever shrinks (star contraction never
    * adds edges beyond the re-attachments it removes); every shuffle is
    * keyed on a vertex; the driver sees one 2-column checksum row per
    * round and never a vertex. Rounds run on the session's conf. */
  private def starComponents(edges: DataFrame, maxIter: Int,
      ckpt: DriverLoop.RoundCheckpoints): DataFrame = {
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast(DecimalType(38, 0)))).head()
      (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
    }
    // canonical undirected edges (u < v), self-loops dropped: a filter
    // over the materialized edge set (generation 0, deleted last)
    var e = edges.filter(col("src") < col("dst"))
      .select(col("src").as("u"), col("dst").as("v"))
    var eGen = 0 // the durable generation backing `e`
    var prev = checksum(e)
    var converged = false
    var round = 0
    // Round shape note (r16): an "attach to the per-key minimum" could
    // also be ONE window min over the key instead of rollup + equi-join
    // back — measured on the sf0.1 pair graph the two are
    // indistinguishable, and the rollup+join form keeps partial
    // (map-side) aggregation AND stays AQE-skew-splittable where a
    // window partition cannot be split (guide §2.5) — late rounds
    // concentrate a whole component's edges on its root vertex, which
    // is exactly the partition a skew split has to save.
    while (!converged && round < maxIter) {
      // LARGE-STAR over the directed neighbor view
      val nbr = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mL = nbr.groupBy(col("x"))
        .agg(least(min(col("y")), first(col("x"))).as("m"))
      val ls = ckpt(nbr.join(mL, "x").filter(col("y") > col("x"))
        .select(col("m").as("u"), col("y").as("v"))
        .distinct())
      val lsGen = ckpt.generations - 1
      // SMALL-STAR on the canonical relation: group the smaller
      // endpoints (and the node itself) under each v, attach to their min
      val mS = ls.groupBy(col("v")).agg(min(col("u")).as("m"))
      val ss = ckpt(ls.join(mS, "v")
        .select(col("m").as("nu"), col("u").as("nv"))
        .union(mS.select(col("m").as("nu"), col("v").as("nv")))
        .filter(col("nu") =!= col("nv"))
        .select(least(col("nu"), col("nv")).as("u"),
          greatest(col("nu"), col("nv")).as("v"))
        .distinct(), eager = false)
      val cur = checksum(ss)
      // `ss` is materialized: the previous round's edges and this
      // round's large-star are unreferenced; reclaim them
      if (eGen > 0) ckpt.delete(eGen)
      ckpt.delete(lsGen)
      e = ss
      eGen = ckpt.generations - 1
      converged = cur == prev
      prev = cur
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter star-contraction rounds " +
        "— raise maxIter (paper bound is ~2*log2(n) rounds)")
    // at the fixpoint e is a star forest rooted at each component's
    // minimum: every vertex takes the min of its own id and its root;
    // ids seen only in self-pairs never enter e and keep their own
    ckpt.finish(e.select(col("v").as("id"), col("u").as("label"))
      .union(edges.select(col("src").as("id"), col("src").as("label")))
      .groupBy(col("id")).agg(min(col("label")).as("label")))
  }

  /** Driver-side closure of a small pair graph: union-find with path
    * compression, unioning the larger root UNDER the smaller — so every
    * root is its component's minimum id by construction, matching star
    * contraction's labels exactly. Ids surface as
    * LongType (every caller keys by a long doc id). */
  private def driverComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    // one direction suffices for union-find (half the transfer); keep
    // src == dst self-loops so their vertex still surfaces. The stream
    // lands in primitive long arrays — toLocalIterator bounds the boxed
    // Row footprint to one partition at a time, so peak driver heap is
    // ~16 B/edge, not hundreds of bytes of GenericRow per edge.
    val sb = new scala.collection.mutable.ArrayBuilder.ofLong
    val db = new scala.collection.mutable.ArrayBuilder.ofLong
    val it = edges.filter(col("src") <= col("dst"))
      .select(col("src"), col("dst"))
      .toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      sb += r.getLong(0); db += r.getLong(1)
    }
    val srcA = sb.result(); val dstA = db.result()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    var i = 0
    while (i < srcA.length) {
      val a = find(srcA(i)); val b = find(dstA(i))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      i += 1
    }
    // vertex set as a primitive sort + adjacent dedup — a boxed tree set
    // here would cost ~50 B/vertex and dwarf the edge arrays. The output
    // Rows (one per vertex) are the one unavoidable boxed allocation:
    // they ARE the result relation handed to createDataFrame.
    val all = new Array[Long](srcA.length + dstA.length)
    System.arraycopy(srcA, 0, all, 0, srcA.length)
    System.arraycopy(dstA, 0, all, srcA.length, dstA.length)
    java.util.Arrays.sort(all)
    val out = new java.util.ArrayList[org.apache.spark.sql.Row]()
    i = 0
    while (i < all.length) {
      if (i == 0 || all(i) != all(i - 1))
        out.add(org.apache.spark.sql.Row(all(i), find(all(i))))
      i += 1
    }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("label", LongType, nullable = false))))
  }

  /** Cross-document boilerplate-span removal (the line-level dedup of
    * CCNet/RefinedWeb, over fixed token windows since this corpus has no
    * newlines): split each doc into non-overlapping `span`-token windows,
    * count each window's DOCUMENT frequency across the corpus, strip
    * windows present in more than `maxDf` docs, and reassemble the doc
    * from the surviving windows in order. Navigation chrome, cookie
    * banners, and license headers repeat verbatim across pages — at the
    * window grain they are removable without dropping the whole doc.
    *
    * Returns (id, n_spans, n_removed, cleaned) — the TRANSFORMED corpus
    * with its removal accounting, not just a report.
    *
    * Scale: the df aggregate shuffles one small row per (window, doc);
    * the hot-window set (df > maxDf) is tiny by construction — it is
    * the boilerplate vocabulary, not the corpus — so it BROADCASTS into
    * the flagging join, and the only corpus-sized shuffle is the per-doc
    * reassembly groupBy. Window text itself shuffles once (reassembly
    * needs it); the df pass could key on xxhash64(window) instead, but
    * the reassembly shuffle dominates either way. */
  def stripBoilerplateSpans(
      df: DataFrame, idCol: String, textCol: String,
      span: Int = 16, maxDf: Int = 2): DataFrame = {
    require(span > 0, s"span=$span must be positive")
    require(maxDf >= 1, s"maxDf=$maxDf must be at least 1 (0 would strip everything)")
    val toks = TextAnalysis.tokens(col(textCol))
    val spans = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(transform(
          sequence(lit(0), TextAnalysis.chunkCount(toks, span, span) - 1),
          i => array_join(slice(toks, i * span + 1, lit(span)), " "))))
      .toDF("id", "idx", "span")
    val hot = spans.groupBy(col("span"))
      .agg(countDistinct(col("id")).as("_df"))
      .filter(col("_df") > maxDf)
      .select(col("span"), lit(1).as("_hot"))
    spans.join(broadcast(hot), Seq("span"), "left")
      .withColumn("is_hot", coalesce(col("_hot"), lit(0)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("is_hot")).cast(LongType).as("n_removed"),
        array_join(transform(
          filter(sort_array(collect_list(struct(col("idx"), col("span"), col("is_hot")))),
            s => s.getField("is_hot") === 0),
          s => s.getField("span")), " ").as("cleaned"))
  }

  /** 64-bit SimHash sketch as FOUR 16-bit chunks (array<long>). Per
    * token, bit i's ±1 vote is bit i of the token's portable 64-bit hash
    * (h31 | h131 << 32, see TextHashKernels.portableSimhashChunks); sketch
    * bit i is set when the vote sum is positive. Native fused kernel
    * (graft.expressions.SimHashChunks) — one pass over the tokens, a
    * 64-int vote array, no per-token allocation. Map-only. */
  def simhashChunks(textCol: Column): Column =
    graft.expressions.TextHashExprs.simhashChunks(TextAnalysis.tokens(textCol), portable = true)

  /** The declarative HOF formulation of the xxhash64 SimHash kernel
    * (`TextHashExprs.simhashChunks` with `portable = false`, the
    * `graft_simhash` SQL function), kept as its cross-check oracle:
    * TextHashSpec and PropertiesSpec assert bit-identical output. */
  def simhashChunksDeclarative(textCol: Column): Column = {
    val baseHashes = transform(TextAnalysis.tokens(textCol), t => xxhash64(t))
    val voteArr = aggregate(
      baseHashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        array((0 until 64).map { i =>
          when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L))
        }: _*),
        (a, b) => a + b))
    // fold each 16-bit slice MSB-first into a chunk value
    transform(sequence(lit(0), lit(3)), c =>
      aggregate(slice(voteArr, c * 16 + 1, lit(16)), lit(0L),
        (acc, v) => acc * 2 + when(v > 0, 1L).otherwise(0L)))
  }

  /** Hamming distance between two chunked sketches. */
  def hammingChunks(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y))),
      lit(0), (acc, v) => acc + v)

  /** SimHash near-dup candidate pairs: band the sketch by its 4 16-bit
    * chunks (any equal chunk → candidate, catches hamming<=3 with high
    * probability), verify with the exact hamming distance. */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxDf): DataFrame = {
    // cache: the sketch feeds both sides of the self-join (8 longs/doc)
    val sk = Caches.register(
      df.select(col(idCol).as("id"), simhashChunks(col(textCol)).as("sk")))
    // over-full (band, chunk) buckets are degenerate blocking keys
    // (boilerplate corpus) — drop before the f² self-join
    val chunks = dropHotKeys(
      sk.select(col("id"), col("sk"), posexplode(col("sk")))
        .toDF("id", "sk", "band", "chunk"),
      Seq("band", "chunk"), maxBucket)
    chunks.as("a").join(chunks.as("b"),
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hammingChunks(col("a.sk"), col("b.sk")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
