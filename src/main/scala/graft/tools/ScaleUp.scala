package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bench-only data scaler: replicates an sf directory `factor`× into a
  * target directory so the bench can measure a 10× scale point
  * (SCALING.md's sf0.1 → sf1 slope) without a driver-generated sf1.
  *
  * This is a MEASUREMENT utility, not part of the engine: correctness
  * runs stay on the driver's own testdata. The replication is designed
  * so each query's work scales the way a real 10× corpus would:
  *
  *   - every key column is offset per copy by the table's key range, so
  *     distinct-cardinalities (customers, orders, users, docs) scale
  *     ×factor and every foreign key lands in the matching copy of its
  *     dimension — joins fan out 1:1 exactly as before, never ×factor;
  *   - generated names (Customer#…, Supplier#…) are re-derived from the
  *     new key so name-based blocking (q_fuzzy_*) sees ×factor distinct
  *     names, not factor exact clones of each name (which would inflate
  *     candidate pairs ×factor² inside each block);
  *   - document text gets a per-copy token prefix (copy 0 untouched), so
  *     WITHIN-copy duplicate/shingle structure is preserved per copy
  *     (dup rate, cluster sizes, df distribution all scale linearly)
  *     while NO shingle collides across copies — a clone-without-
  *     perturbation corpus would instead pair every doc with its
  *     factor−1 clones and measure an artificial ×factor² pair blowup;
  *   - embeddings get deterministic per-copy noise (copy 0 untouched)
  *     for the same reason in cosine space;
  *   - event timestamps keep their window: ×factor density over the
  *     same weeks (more users, same calendar), which is how event
  *     volume actually grows.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> [factor=10]
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcDir> <dstDir> [factor]")
    val Array(src, dst) = args.take(2)
    val factor = if (args.length > 2) args(2).toInt else 10
    require(factor >= 1, s"factor=$factor")
    val spark = graft.Sessions.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    scaleAll(spark, src, dst, factor)
    spark.stop()
  }

  /** Cross-join with the 0..factor-1 copy index. */
  private def copies(df: DataFrame, factor: Int): DataFrame =
    df.crossJoin(broadcast(
      df.sparkSession.range(factor).select(col("id").cast("int").as("copy"))))

  def scaleAll(spark: SparkSession, src: String, dst: String, factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      // single file per table, mirroring the driver testdata layout (the
      // streaming queries' one-data-micro-batch shape stays comparable)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$dst/$t.parquet").count()} rows")
    }
    // key ranges from the source so offsets stay correct for any sf
    def span(t: String, k: String): Long =
      read(t).agg(max(col(k))).head().getLong(0) + 1L

    val nCust = span("customer", "c_custkey")
    val nOrd = span("orders", "o_orderkey")
    val nPart = span("part", "p_partkey")
    val nSupp = span("supplier", "s_suppkey")
    val nUser = span("events", "user_id")
    val nEvent = span("events", "event_id")
    val nDoc = span("documents", "doc_id")
    val nVec = span("embeddings", "vec_id")

    def off(k: String, n: Long) = (col(k) + col("copy") * n).as(k)

    // dims pass through unchanged — 25 nations / 5 regions at any scale
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(copies(read("customer"), factor)
      .select(off("c_custkey", nCust).as("c_custkey"),
        format_string("Customer#%09d", col("c_custkey") + col("copy") * nCust).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer")

    write(copies(read("supplier"), factor)
      .select(off("s_suppkey", nSupp).as("s_suppkey"),
        format_string("Supplier#%09d", col("s_suppkey") + col("copy") * nSupp).as("s_name"),
        col("s_nationkey"), col("s_acctbal")),
      "supplier")

    write(copies(read("part"), factor)
      .select(off("p_partkey", nPart), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice")),
      "part")

    write(copies(read("orders"), factor)
      .select(off("o_orderkey", nOrd), off("o_custkey", nCust),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")),
      "orders")

    write(copies(read("lineitem"), factor)
      .select(off("l_orderkey", nOrd), off("l_partkey", nPart),
        off("l_suppkey", nSupp), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")),
      "lineitem")

    write(copies(read("events"), factor)
      .select(off("event_id", nEvent), col("ts"), off("user_id", nUser),
        col("event_type"), col("value"), col("props")),
      "events")

    val docText = when(col("copy") === 0, col("text")).otherwise(
      array_join(transform(split(col("text"), " "),
        t => concat(col("copy").cast("string"), lit("z"), t)), " "))
    write(copies(read("documents"), factor)
      .select(off("doc_id", nDoc), docText.as("text"), col("lang"),
        col("source"), length(docText).cast("long").as("n_chars")),
      "documents")

    // deterministic per-(copy, id, dim) perturbation keeps copies out of
    // each other's cosine neighborhoods; magnitude ~0.2 on unit-ish dims
    val noisy = transform(col("embedding"), (e, i) =>
      when(col("copy") === 0, e).otherwise(
        e * lit(0.9) + (pmod((col("vec_id") * 64 + i + col("copy") * 1000003L) *
          lit(2654435761L), lit(2001L)).cast("double") - 1000.0) / 1000.0 * 0.2))
    write(copies(read("embeddings"), factor)
      .select(off("vec_id", nVec), noisy.as("embedding"), col("label")),
      "embeddings")
  }
}
