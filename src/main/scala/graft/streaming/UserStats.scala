package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Custom streaming state via the Spark 4 `transformWithState`
  * (StatefulProcessor) API — the successor of flatMapGroupsWithState
  * ([[Sessionize]] covers that one): typed per-key ValueState backed by
  * the RocksDB state store, explicit state schema/TTL contracts, and
  * per-batch emission.
  *
  * The processor keeps one running-stats record per user (count,
  * integer-cent sum, min/max, distinct event-type set) and emits the
  * key's CURRENT stats after folding each batch's rows. All folded
  * quantities are commutative integer/set operations, so any
  * micro-batch partitioning of the input produces the same final stats
  * — which is what lets the end-of-stream state carry a full batch-SQL
  * oracle. The per-batch emissions are monotone in `n_events`, so the
  * final state per user is simply its max-n row.
  *
  * At 100 TB: state is ~48 bytes + the small type set per ACTIVE user,
  * partitioned by the grouping key across state stores; RocksDB keeps
  * it off-heap and incremental-checkpoints per batch. TTL (here NONE —
  * finite replay) is the retention lever for unbounded key spaces. */
object UserStats {

  /** (user, type, integer cents) projection of an event row. */
  final case class In(user_id: Long, event_type: String, cents: Long)

  /** Per-user state: all-commutative fold of the inputs. */
  final case class Stats(n: Long, sum_cents: Long, min_cents: Long,
      max_cents: Long, types: Set[String])

  /** Emitted row: the key's stats AFTER folding the current batch. */
  final case class Out(user_id: Long, n_events: Long, sum_cents: Long,
      min_cents: Long, max_cents: Long, n_types: Int)

  final class Proc extends StatefulProcessor[Long, In, Out] {
    @transient private var state: ValueState[Stats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[Stats]("stats",
        Encoders.product[Stats], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[In],
        timerValues: TimerValues): Iterator[Out] = {
      var st =
        if (state.exists()) state.get()
        else Stats(0L, 0L, Long.MaxValue, Long.MinValue, Set.empty)
      rows.foreach { r =>
        st = Stats(st.n + 1, st.sum_cents + r.cents,
          math.min(st.min_cents, r.cents), math.max(st.max_cents, r.cents),
          st.types + r.event_type)
      }
      state.update(st)
      Iterator.single(Out(key, st.n, st.sum_cents, st.min_cents,
        st.max_cents, st.types.size))
    }
  }

  /** Fold `events` (needs user_id, event_type, value) through the
    * processor with Trigger.AvailableNow and return ONE row per user —
    * the end-of-stream state, recovered as each key's max-n emission.
    * Values are quantized to integer cents BEFORE the stateful fold so
    * the sum is order-independent (exact, engine-portable).
    *
    * transformWithState requires the RocksDB state store; the provider
    * is set through [[graft.Sessions.withConfs]] for the stream's
    * lifetime. */
  def runningStats(spark: SparkSession, events: DataFrame, name: String,
      checkpoint: String): DataFrame = {
    import spark.implicits._
    val in = events.select($"user_id".cast("long").as("user_id"),
        $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .as[In]
    val out = in.groupByKey(_.user_id)
      .transformWithState(new Proc, TimeMode.None(), OutputMode.Update(),
        Encoders.product[Out])
    graft.Sessions.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val emitted = EventsStream.runAvailableNow(spark, out.toDF(), name,
        checkpoint, OutputMode.Update())
      // final state per user = its last (max-n) emission; n is strictly
      // monotone per key so the keep-max window is exact
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("n_events").desc)
      emitted.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1).drop("_rk")
    }
  }
}
