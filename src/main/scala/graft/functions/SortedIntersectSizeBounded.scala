package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** [[SortedIntersectSize]]'s merge with a positional early-abort bound — the
  * standard set-similarity-join optimization: a pairwise-Jaccard filter
  * `J >= t` needs the intersection only when it can still reach
  * `required = floor(t * (|A|+|B|) / (1+t))`; during the two-pointer
  * merge, `acc + min(remaining_A, remaining_B)` is a tight upper bound on
  * the final count, and the moment it drops below `required` the pair is
  * provably below threshold — return -1 (a "below threshold" sentinel)
  * instead of finishing the merge. [[BoundedJaccard.compute]] is the caller.
  *
  * Safety of the sentinel (why no borderline pair can be lost): the merge
  * returns -1 only when `final_count < required`. For any monotone
  * float rounding of the bound, `floor(float) <= ceil(exact)`, and
  * `J >= t  <=>  count >= ceil(exact bound)` over integer counts — so
  * every aborted pair has J strictly below t, and every surviving pair
  * carries its EXACT count (the abort never fires once the bound holds).
  * Measured effect: most candidate pairs in the length-blocked joins sit
  * far below threshold, and the abort converts their full `|A|+|B|`-step
  * merges into ~`(1-t)`-fraction prefixes (the higher the threshold, the
  * earlier the abort — x3's t=0.9 aborts almost immediately).
  *
  * Same input contract as [[SortedIntersectSize]]: sorted ascending,
  * distinct, no nulls (a null element poisons the pair).
  */
object SortedIntersectSizeBounded {

  /** Integer.MIN_VALUE = a null element poisoned the pair; -1 = provably
    * below `required`; else the exact intersection size.
    */
  def count(x: ArrayData, y: ArrayData, required: Int): Int = {
    var i = 0; var j = 0; var n = 0
    val xn = x.numElements(); val yn = y.numElements()
    while (i < xn && j < yn) {
      val remX = xn - i; val remY = yn - j
      if (n + (if (remX < remY) remX else remY) < required) return -1
      if (x.isNullAt(i) || y.isNullAt(j)) return Integer.MIN_VALUE
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    if (n < required) -1 else n
  }
}
