package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of joins (time-series point lookup), Spark-first.
  *
  * Reproduces the semantics of `pd.merge_asof` as used by the reference
  * (`raw_data_collection/raw_data.py:223-229`): left-preserving, nearest
  * match within an inclusive tolerance, equidistant tie broken toward the
  * earlier (backward) right row.
  *
  * Scale design: a naive band join (`abs(l.ts - r.ts) <= tol`) can only
  * run as a broadcast-nested-loop / cartesian product — quadratic at
  * 100 TB. Instead both sides bucket by `floor(ts / tolerance)` and each
  * RIGHT row explodes into its bucket and the two adjacent ones, so every
  * in-tolerance pair shares an equi-join key and Catalyst plans a HASH
  * join. The plan is single-pass: the full left rows ride a left-outer
  * bucket join with the tolerance test as its residual, and a
  * `row_number` window per left key keeps the best candidate (Spark adds a
  * map-side `WindowGroupLimit`); the left input is scanned once. A
  * null-key left row never matches and carries its own id into the window
  * partition, so null-key rows are never merged into one partition.
  */
object AsofJoin {

  sealed trait Direction
  case object Nearest extends Direction
  case object Backward extends Direction

  /** Nearest-within-tolerance as-of join, pandas `merge_asof` parity.
    *
    * @param left      left (preserved) side
    * @param right     right (lookup) side; its `on` column is dropped from the output
    * @param on        timestamp column name present on both sides
    * @param toleranceSeconds inclusive match tolerance, in seconds
    * @param leftKey   a column (or combination) uniquely identifying left rows,
    *                  used to select the single best match per left row
    */
  def nearest(left: DataFrame, right: DataFrame, on: String,
              toleranceSeconds: Long, leftKey: Seq[String]): DataFrame =
    asof(left, right, on, toleranceSeconds, leftKey, Nearest)

  def backward(left: DataFrame, right: DataFrame, on: String,
               toleranceSeconds: Long, leftKey: Seq[String]): DataFrame =
    asof(left, right, on, toleranceSeconds, leftKey, Backward)

  def asof(left0: DataFrame, right0: DataFrame, on: String,
           toleranceSeconds: Long, leftKey: Seq[String],
           direction: Direction): DataFrame = {
    require(toleranceSeconds > 0, "tolerance must be positive")
    // NTZ inputs normalize through the shared TimeCols.ltz (see its note)
    val left = TimeCols.ltz(left0, on)
    val right = TimeCols.ltz(right0, on)
    // right payload columns land next to the full left row, so any shared
    // name other than `on` would be ambiguous. Fail fast instead.
    val collisions = right.columns.toSet.intersect(left.columns.toSet) - on
    require(collisions.isEmpty,
      s"right-side columns collide with left: ${collisions.mkString(", ")} — rename before joining")
    val tolMicros = toleranceSeconds * 1000000L

    val lt = col("__l_ts")
    val rt = col("__r_ts")
    val rb = floor(rt / tolMicros)
    val keyNull = leftKey.map(col(_).isNull).foldLeft(lit(false))(_ || _)

    val lTagged = left
      .withColumn("__l_ts", unix_micros(col(on)))
      .withColumn("__l_bucket", floor(lt / tolMicros))
      .withColumn("__l_nullkey_id", when(keyNull, monotonically_increasing_id()))

    // Right rows exploded into the 3 buckets any in-tolerance left row can
    // occupy. |l - r| <= tol  =>  floor(l/tol) ∈ {floor(r/tol)-1, .., +1}.
    val rCols = right.columns.filter(_ != on)
    val rExp = right
      .withColumn("__r_ts", unix_micros(col(on)))
      .drop(on)
      .withColumn("__r_bucket", explode(array(rb - 1, rb, rb + 1)))

    val inTol: Column = direction match {
      case Nearest  => abs(lt - rt) <= tolMicros
      case Backward => rt <= lt && (lt - rt) <= tolMicros
    }
    // unmatched left rows carry a null right time: nulls sort last
    val ordering: Seq[Column] = direction match {
      // pandas tie-break: equidistant -> earlier (backward) right row wins.
      case Nearest  => Seq(abs(lt - rt).asc_nulls_last, rt.asc_nulls_last)
      case Backward => Seq(rt.desc_nulls_last)
    }

    val cand = lTagged.join(rExp,
      col("__l_bucket") === col("__r_bucket") && inTol && !keyNull, "left_outer")
    val w = Window.partitionBy((leftKey :+ "__l_nullkey_id").map(col): _*)
      .orderBy(ordering: _*)
    // key columns first, then the rest of the left row, then the payload
    val outCols = leftKey ++ left.columns.filterNot(leftKey.contains) ++ rCols
    cand
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(outCols.map(col): _*)
  }
}
