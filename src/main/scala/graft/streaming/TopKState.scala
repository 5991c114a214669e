package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming per-key TOP-K via the Spark 4 `transformWithState` API's
  * LIST state primitive — the bounded-heap state shape the rest of the
  * streaming family doesn't exercise ([[UserStats]] is a scalar
  * ValueState fold, [[Sessionize]]/[[PatternMatch]] are
  * flatMapGroupsWithState). Per user, the state is the current top-k
  * events by (integer-cent value DESC, event_id ASC) — at most k
  * `Item`s per ACTIVE key regardless of stream length, the textbook
  * bounded-state contract: a million-event user holds exactly k rows
  * in RocksDB.
  *
  * Emission protocol: after folding each batch the processor re-emits
  * the key's CURRENT top-k tagged with `n_seen`, the monotone count of
  * events folded so far — so the end-of-stream answer is each key's
  * max-`n_seen` emission group, recovered with one window. The fold
  * (merge-sort-truncate of two ordered lists under a total order) is
  * associative and batch-partition-independent, which is what lets the
  * final state carry a full batch-SQL oracle: ROW_NUMBER over
  * (cents DESC, event_id) per user, rank ≤ k.
  *
  * At 100 TB: state is k·16 bytes per active user partitioned by key
  * across RocksDB stores; emissions are Update-mode so the sink sees
  * O(k) rows per key per batch, not the event volume. */
object TopKState {

  /** (user, event, integer cents) projection of an event row — values
    * quantize to cents BEFORE the stateful fold so the ordering is an
    * exact integer total order (engine-portable ties). */
  final case class In(user_id: Long, event_id: Long, cents: Long)

  /** One retained item; ordering is (cents DESC, event_id ASC). */
  final case class Item(cents: Long, event_id: Long)

  /** One emitted row: the key's rank-r item after `n_seen` events. */
  final case class Out(user_id: Long, n_seen: Long, rank: Long,
      event_id: Long, cents: Long)

  final class Proc(k: Int) extends StatefulProcessor[Long, In, Out] {
    @transient private var top: ListState[Item] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      top = getHandle.getListState[Item]("top",
        Encoders.product[Item], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[In],
        timerValues: TimerValues): Iterator[Out] = {
      var buf = List.empty[Item]
      var n = if (seen.exists()) seen.get() else 0L
      val it = top.get()
      while (it.hasNext) buf ::= it.next()
      rows.foreach { r => buf ::= Item(r.cents, r.event_id); n += 1 }
      val kept = buf.sortBy(i => (-i.cents, i.event_id)).take(k)
      top.put(kept.toArray)
      seen.update(n)
      kept.iterator.zipWithIndex.map { case (i, r) =>
        Out(key, n, r + 1L, i.event_id, i.cents)
      }
    }
  }

  /** Fold `events` (needs user_id, event_id, value) through the
    * processor with Trigger.AvailableNow; returns the end-of-stream
    * top-k per user as (user_id, rank, event_id, cents). Requires the
    * RocksDB state store, set through [[graft.Sessions.withConfs]] for
    * the stream's lifetime. */
  def topK(spark: SparkSession, events: DataFrame, k: Int, name: String,
      checkpoint: String): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k=$k must be positive")
    // Quantization contract: floor(v*100 + 0.5) is ROUND-HALF-UP — a
    // negative half-cent rounds TOWARD POSITIVE (−0.125 → −12, not −13),
    // unlike round-half-away-from-zero. The oracle mirrors this exact
    // expression, so the gate holds for any sign; the choice is pinned
    // here (and by the negative-value spec) deliberately, not because
    // events.value happens to be non-negative in the fixtures.
    val in = events.select($"user_id".cast("long").as("user_id"),
        $"event_id".cast("long").as("event_id"),
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .as[In]
    val out = in.groupByKey(_.user_id)
      .transformWithState(new Proc(k), TimeMode.None(), OutputMode.Update(),
        Encoders.product[Out])
    graft.Sessions.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val emitted = EventsStream.runAvailableNow(spark, out.toDF(), name,
        checkpoint, OutputMode.Update())
      // final state per key = its max-n_seen emission group (n_seen is
      // strictly monotone per key; each group holds that batch's full
      // top-k, so the filter keeps a complete, consistent answer)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
      emitted.withColumn("_mx", max(col("n_seen")).over(w))
        .filter(col("n_seen") === col("_mx"))
        .select(col("user_id"), col("rank"), col("event_id"), col("cents"))
    }
  }
}
