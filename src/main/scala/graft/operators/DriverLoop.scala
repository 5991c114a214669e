package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.DynamicVariable

/** The one driver-memory policy for iterative operators. A gated site
  * first collapses its corpus-sized input to a domain-sized relation
  * (graph edges, vocabulary, pair counts, feature rows) and counts it;
  * at or under [[maxRows]] rows it collects that relation and runs the
  * fixed point in driver arrays, above it the identical arithmetic runs
  * as distributed rounds. The bound is a ROW COUNT on the collapsed
  * relation, never a fraction of the corpus: 2e6 rows is about 50 MB of
  * driver arrays, the order of a broadcast-join build side.
  *
  * The distributed rounds share one more piece: [[RoundCheckpoints]]
  * truncates their lineage. They run on the session's own conf (its
  * shuffle partitions, AQE coalescing, its broadcast threshold). */
object DriverLoop {

  val MaxRows: Long = 2000000L

  private val bound = new DynamicVariable[Long](MaxRows)

  /** The bound every gate compares its collapsed row count against. */
  def maxRows: Long = bound.value

  /** Runs `body` with the bound set to `n` (restored afterwards, also
    * on a throw); `withMaxRows(0)` forces every distributed loop, which
    * is how specs pin the two paths equal. */
  private[graft] def withMaxRows[T](n: Long)(body: => T): T =
    bound.withValue(n)(body)

  /** Lineage truncation for a round loop: each round references the
    * previous one, so an uncut plan grows per round and Catalyst analysis
    * goes exponential. `dir = None` checkpoints into executor memory
    * (`localCheckpoint`); `Some(dir)` writes a DURABLE `checkpoint()`
    * that survives executor loss, one `dir/gen-N` subdirectory per
    * generation so the loop can [[delete]] superseded ones — Spark never
    * cleans reliable checkpoints itself.
    *
    * Durable mode repoints the CONTEXT-global checkpoint directory per
    * generation: a concurrent job's checkpoints would land in (and be
    * reclaimed from) this loop's subdirectories. */
  private[graft] final class RoundCheckpoints(spark: SparkSession, dir: Option[String]) {
    private var gen = 0

    /** Durable generations written so far (0 in local mode); the latest
      * is `generations - 1`. */
    def generations: Int = gen

    /** Materializes `df` and returns the truncated relation. A lazy
      * local checkpoint (`eager = false`) materializes in the first job
      * over it, which saves a job when the loop needs that job anyway
      * (a gate count, a convergence checksum). Durable generations are
      * always written eagerly, so a superseded one can be deleted as
      * soon as its successor is returned. */
    def apply(df: DataFrame, eager: Boolean = true): DataFrame = dir match {
      case None => df.localCheckpoint(eager)
      case Some(d) =>
        spark.sparkContext.setCheckpointDir(s"$d/gen-$gen")
        gen += 1
        df.checkpoint()
    }

    /** Returns the loop's result `df`. Durable mode writes it as the one
      * generation that survives and deletes every earlier one; local
      * mode returns it as is, a plan over the loop's local checkpoints. */
    def finish(df: DataFrame): DataFrame =
      if (dir.isEmpty) df
      else {
        val out = apply(df)
        (0 until gen - 1).foreach(delete)
        out
      }

    /** Deletes durable generation `g` (idempotent; a no-op in local mode). */
    def delete(g: Int): Unit = dir.foreach { d =>
      val path = new org.apache.hadoop.fs.Path(s"$d/gen-$g")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
    }
  }
}
