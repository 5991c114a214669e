package graft.operators

import scala.util.DynamicVariable

/** The one driver-memory policy for iterative operators. A gated site
  * first collapses its corpus-sized input to a domain-sized relation
  * (graph edges, vocabulary, pair counts, feature rows) and counts it;
  * at or under [[maxRows]] rows it collects that relation and runs the
  * fixed point in driver arrays, above it the identical arithmetic runs
  * as distributed rounds. The bound is a ROW COUNT on the collapsed
  * relation, never a fraction of the corpus: 2e6 rows is about 50 MB of
  * driver arrays, the order of a broadcast-join build side. */
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
}
