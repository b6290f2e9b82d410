package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** A fixed-round iteration over a few small frames, run as ONE task at
  * execution time. The graph queries iterate over the nation-pair backbone
  * (≤ nations² rows) and markov over the k×(k+1) event-type cell table:
  * tables whose size does not grow with the fact tables, so a
  * per-round Spark plan only buys scheduling (25–35 jobs for a 25-row
  * answer), while a plain driver loop runs its jobs at DataFrame
  * construction.
  *
  * `BoundedLoop(query, inputs, out)(step)` tags each input with its index,
  * unions them into one partition and applies `step` to the rows there,
  * input by input. The result is a lazy DataFrame: building it runs no
  * Spark job, and everything downstream of it stays ordinary Spark.
  *
  *  - **Bound.** The task reads at most `MaxRows` rows per input; one more
  *    fails the query with [[BoundedLoop.RowBoundExceeded]] naming the
  *    query, the input and the cap, before the step sees any rows.
  *  - **Exactness.** A step replays the Spark expressions it replaces
  *    operation for operation: [[round]] is Spark's `round` on a double,
  *    [[decimalSum]] is `CAST(SUM(CAST(x AS DECIMAL(28, s))) AS DOUBLE)`,
  *    and keys are longs compared by their natural ordering. Sums are exact
  *    decimals and ties break on keys, so the answer does not depend on
  *    the order in which the union delivers rows.
  *  - **Why one task is safe.** The inputs are bounded by construction
  *    (nation and event-type vocabularies), the cap makes that bound fail
  *    fast instead of exhausting an executor, and a deterministic step
  *    gives the same rows if the task is retried.
  */
object BoundedLoop {

  /** Most rows any one input may carry into a loop. */
  val MaxRows: Int = 100000

  final class RowBoundExceeded(val query: String, val input: Int, val cap: Int)
      extends RuntimeException(s"$query: bounded-loop input $input holds more than $cap rows")

  def apply(query: String, inputs: Seq[DataFrame], out: StructType)(
      step: IndexedSeq[Seq[Row]] => Seq[Row]): DataFrame = {
    val n = inputs.size
    inputs.zipWithIndex
      .map { case (df, i) =>
        df.select(lit(i).as("i"), struct(df.columns.toIndexedSeq.map(col): _*).as(s"r$i")) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .coalesce(1)
      .mapPartitions { rows =>
        val buf = IndexedSeq.fill(n)(ArrayBuffer.empty[Row])
        rows.foreach { r =>
          val i = r.getInt(0)
          if (buf(i).size == MaxRows) throw new RowBoundExceeded(query, i, MaxRows)
          buf(i) += r.getStruct(1 + i)
        }
        step(buf.map(_.toSeq)).iterator
      }(Encoders.row(out))
  }

  /** Spark's `round(x, scale)` on a double: HALF_UP on the shortest
    * decimal form of `x`; NaN and ±Inf pass through unchanged.
    */
  def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP).doubleValue

  /** `CAST(SUM(CAST(x AS DECIMAL(28, scale))) AS DOUBLE)`, with no terms
    * giving 0.0 (the callers' COALESCE). The decimal cast turns NaN and
    * ±Inf into null, and SUM skips nulls.
    */
  def decimalSum(xs: Iterable[Double], scale: Int): Double =
    xs.iterator.filterNot(x => x.isNaN || x.isInfinite)
      .map(x => JBigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP))
      .foldLeft(JBigDecimal.ZERO)(_.add(_)).doubleValue
}
