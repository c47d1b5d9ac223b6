package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension (type 2) history build: collapse a keyed
  * observation log — one row per (key, observation time) carrying the
  * entity's attributes as seen at that time — into validity intervals.
  * Consecutive observations with identical tracked attributes merge into
  * one row `[valid_from, valid_to)`; `valid_to` is null (and `is_current`
  * = 1) on each key's last run. This is [[SnapshotDiff]]'s longitudinal
  * twin: the diff says WHAT changed between two snapshots, the SCD2
  * history says WHEN each value was in effect across all of them — the
  * standard warehouse shape for point-in-time joins ("which status did
  * this user have when the order was placed?").
  *
  * Scale shape: ONE shuffle end-to-end. Change-point detection (lag of
  * the packed attribute struct, null-safe `<=>` so nulls never fake a
  * change) and the interval close (lead of the next change point) ride
  * the same hashpartitioning(key) + sort — the intervening filter keeps
  * ordering and distribution, so Catalyst plans a single Exchange
  * (pinned in PlanSpec). Output size is the number of VALUE CHANGES, not
  * observations — on an append-only 100 TB event log this is exactly the
  * compaction that makes dimension history queryable at all. Nothing
  * driver-side; tie-breaking is total given `orderCols` extends the
  * observation time with a unique id.
  */
object Scd2 {

  /** @param orderCols observation order per key; head is the validity
    *                  timeline (becomes `valid_from`/`valid_to`), the
    *                  rest only break ties deterministically.
    * @param trackCols attributes whose changes open a new interval. */
  def history(obs: DataFrame, key: String, orderCols: Seq[String],
              trackCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "scd2 needs an observation order column")
    require(trackCols.nonEmpty, "scd2 needs at least one tracked column")
    val byObs = Window.partitionBy(key).orderBy(orderCols.map(col): _*)
    val tracked = struct(trackCols.map(col): _*)
    // First row per key: lag is null, and null <=> struct is false, so the
    // run opener is flagged without a special case.
    obs.withColumn("__chg", !(tracked <=> lag(tracked, 1).over(byObs)))
      .where(col("__chg"))
      .withColumn("valid_to", lead(col(orderCols.head), 1).over(byObs))
      .select(
        (col(key) +: trackCols.map(col)) ++ Seq(
          col(orderCols.head).as("valid_from"),
          col("valid_to"),
          col("valid_to").isNull.cast("long").as("is_current")): _*)
  }

  /** Incremental history maintenance: fold a batch of NEW observations
    * into an EXISTING history without re-scanning the untouched keys —
    * O(batch + touched keys' runs), never O(log). This is the engine-side
    * analogue of the reference's own core optimization (fetch only the
    * missing window, merge onto the store — `data_engineering.py:105-111`)
    * at the place it matters most: re-running [[history]] over an
    * append-only 100 TB event log per batch re-sorts the world to apply a
    * few rows.
    *
    * Mechanics: keys absent from the batch pass through untouched (anti
    * join); a touched key's CLOSED runs pass through as-is (a closed run
    * can only be affected by an observation INSIDE it, which the in-order
    * contract excludes); its OPEN run is replayed as a seed observation at
    * its own `valid_from` and re-run through [[history]]'s change-point
    * window together with the batch rows. A batch row continuing the open
    * run's value folds into it (no new interval, `valid_from` keeps its
    * original stamp — the seed carries it); a changed value closes the
    * open run at the batch row's timestamp. Batch-only keys build their
    * history from scratch on the same pass.
    *
    * Contract: per-key IN-ORDER arrival — every batch observation of a
    * key orders at-or-after everything already folded into that key's
    * history (the watermark guarantee of a streaming feed; equivalently
    * `max(stored orderCols) <= min(batch orderCols)` per key). Rows
    * ordering BEFORE the open run are tolerated exactly when they are
    * REPLAYS: a row falling inside a recorded interval with the same
    * tracked values is a no-op (so re-applying an already-applied batch —
    * the foreachBatch recovery path — is idempotent even across change
    * points), while a row that CONTRADICTS recorded history fails loudly
    * via `raise_error` instead of silently rewriting the past. (A
    * contradiction inside a collapsed run — a row between two retained
    * change points carrying a third value — is indistinguishable from a
    * replay only if it matches the covering interval's value, in which
    * case folding it is also correct.) The spec laws:
    * `applyBatch(history(older), newer) == history(older ∪ newer)` for
    * every in-order split, and `applyBatch(applyBatch(h, b), b) ==
    * applyBatch(h, b)`.
    *
    * Scale shape: one hash shuffle of (seed ∪ batch) for the window, one
    * (broadcast at small batch, else shuffled) semi/anti join pair on the
    * history — the history's own rows are never window-sorted again.
    */
  def applyBatch(history: DataFrame, batch: DataFrame, key: String,
                 orderCols: Seq[String], trackCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "scd2 needs an observation order column")
    require(trackCols.nonEmpty, "scd2 needs at least one tracked column")
    val histCols = (key +: trackCols) ++ Seq("valid_from", "valid_to", "is_current")
    require(histCols.forall(history.columns.contains),
      s"history is missing ${histCols.filterNot(history.columns.contains).mkString(", ")} — " +
        "pass a frame built by Scd2.history")
    val touched = batch.select(col(key)).distinct()
    val untouched = history.join(touched, Seq(key), "left_anti")
    val touchedHist = history.join(touched, Seq(key), "left_semi")
    val closed = touchedHist.where(col("is_current") === 0)
    // The open run replayed as an observation at its valid_from. Its
    // tie-break columns were not retained — null sorts FIRST ascending,
    // so a batch row at the seed's exact head value orders after it,
    // consistent with the in-order contract.
    val batchSlim = batch.select((Seq(key) ++ orderCols ++ trackCols).distinct.map(col): _*)
    val seed = touchedHist.where(col("is_current") === 1)
      .select((Seq(col(key), col("valid_from").as(orderCols.head)) ++
        orderCols.tail.map(c => lit(null).cast(batchSlim.schema(c).dataType).as(c)) ++
        trackCols.map(col)): _*)
      .withColumn("__seed", lit(1))
    val byKey = Window.partitionBy(key)
    val staged = batchSlim.withColumn("__seed", lit(0)).unionByName(seed)
      // out-of-order signature: a batch row before its key's open run
      // opened. Same hash partitioning as the change window, so this
      // marker rides the rebuild's own Exchange.
      // coalesce: a key with NO seed (batch-only) has a null window max —
      // null < comparisons must read "not late", not "drop the row"
      .withColumn("__late",
        coalesce(col("__seed") === 0 &&
          col(orderCols.head) <
            max(when(col("__seed") === 1, col(orderCols.head))).over(byKey),
          lit(false)))
    // Late rows are either replays (inside a recorded interval with the
    // SAME tracked values — drop: already folded) or contradictions
    // (raise). The join input is EMPTY on an in-order feed, so this
    // branch costs a filter that matches nothing; intervals partition
    // each key's timeline, so a late row matches at most one.
    val tracked2 = struct(trackCols.map(col): _*)
    val hv = touchedHist.select(col(key).as("__hk"),
      struct(trackCols.map(col): _*).as("__hval"),
      col("valid_from").as("__vf"), col("valid_to").as("__vt"))
    val lateBad = staged.where(col("__late"))
      .join(hv, col(key) === col("__hk") && col("__vf") <= col(orderCols.head) &&
        (col("__vt").isNull || col(orderCols.head) < col("__vt")), "left")
      .where(col("__vf").isNull || !(tracked2 <=> col("__hval")))
      // 0 rows on replays; any survivor poisons the rebuild loudly
      .select((Seq(col(key),
        when(lit(true), raise_error(concat(
          lit("scd2 applyBatch: out-of-order batch row for key "),
          col(key).cast("string"),
          lit(" contradicts recorded history — rebuild this key from the log"))))
          .otherwise(col(orderCols.head)).as(orderCols.head)) ++
        orderCols.tail.map(col) ++ trackCols.map(col) ++ Seq(col("__seed"))): _*)
    val merged = staged.where(!col("__late"))
      .select((Seq(col(key)) ++ orderCols.map(col) ++ trackCols.map(col) ++
        Seq(col("__seed"))): _*)
      .unionByName(lateBad)
      .drop("__seed")
    untouched.unionByName(closed)
      .unionByName(Scd2.history(merged, key, orderCols, trackCols))
  }
}
