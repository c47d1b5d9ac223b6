package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch gap-based sessionization: a new session starts when the gap to
  * the previous event of the same key exceeds `gapSeconds`.
  *
  * Scale shape: ONE shuffle end-to-end. Gap detection (lag), session
  * numbering (running sum), and the per-session rollup all ride the same
  * hashpartitioning(key) — Catalyst proves the rollup's grouping keys
  * (key, session_seq) are a superset of the window partitioning, so no
  * second exchange is planned (verified in PLANS.md). Long-running keys
  * skew into single partitions like any keyed window; [[assignSkewSafe]] /
  * [[sessionsSkewSafe]] are the two-phase day-salted variant for when one
  * key dominates (identical output, property-tested and oracle-checked).
  */
object Sessionize {

  /** Attach `session_seq` (1-based per key, ordered by `tsCol`). */
  def assign(df0: DataFrame, keyCol: String, tsCol: String,
             gapSeconds: Long): DataFrame = {
    require(gapSeconds > 0, "gap must be positive")
    // NTZ inputs normalize through the shared TimeCols.ltz (see its note).
    val df = TimeCols.ltz(df0, tsCol)
    val byTs = Window.partitionBy(keyCol).orderBy(tsCol)
    val gap: Column =
      col(tsCol).cast("long") - lag(col(tsCol), 1).over(byTs).cast("long")
    df.withColumn("__new", when(gap.isNull || gap > gapSeconds, 1L).otherwise(0L))
      .withColumn("session_seq", sum("__new").over(byTs))
      .drop("__new")
  }

  /** One row per (key, session): event count and time bounds. */
  def sessions(df: DataFrame, keyCol: String, tsCol: String,
               gapSeconds: Long): DataFrame =
    assign(df, keyCol, tsCol, gapSeconds)
      .groupBy(keyCol, "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(tsCol).as("session_start"), max(tsCol).as("session_end"))

  /** Skew-safe two-phase [[assign]] — identical output, bounded windows.
    *
    * [[assign]]'s window puts ALL of a key's events in one task; a
    * dominant key (one bot account in a year of events) serializes into a
    * single straggler at corpus scale. This is the pre-split-by-day
    * mitigation the plain path's scaladoc names, implemented:
    *
    *   1. salt the window key with a coarse time bucket (default 1 day):
    *      sessionize LOCALLY inside each (key, bucket) — per-task work is
    *      now bounded by a key's busiest day, not its lifetime;
    *   2. stitch across bucket boundaries on a ONE-ROW-PER-(key, bucket)
    *      summary frame: a bucket's first local session continues the
    *      previous non-empty bucket's last session iff the boundary gap is
    *      within `gapSeconds` (comparing against the previous summary ROW,
    *      so sessions spanning empty buckets stitch correctly and
    *      `bucketSeconds` needs no relation to `gapSeconds`);
    *   3. join the per-bucket numbering offset back on (key, bucket) — the
    *      event side already carries that partitioning from the local
    *      window, so only the tiny summary side shuffles — and shift the
    *      local numbering: global = offset + local - merge_flag.
    *
    * Cost vs [[assign]]: the same one wide shuffle (now on (key, bucket)),
    * plus a second window + running sum over the tiny summary frame and a
    * join to carry the offsets back — the price of never building a
    * per-key serial scan. Numbering is identical to [[assign]] because the
    * stitch preserves time order: a bucket's sessions are numbered after
    * every earlier bucket's, minus one when its first session merged.
    */
  def assignSkewSafe(df0: DataFrame, keyCol: String, tsCol: String,
                     gapSeconds: Long, bucketSeconds: Long = 86400L): DataFrame = {
    require(gapSeconds > 0, "gap must be positive")
    require(bucketSeconds > 0, "bucket must be positive")
    val df = TimeCols.ltz(df0, tsCol)
    val bucket = floor(col(tsCol).cast("long") / bucketSeconds)
    val local = Window.partitionBy(col(keyCol), col("__bkt")).orderBy(col(tsCol))
    val gap: Column =
      col(tsCol).cast("long") - lag(col(tsCol), 1).over(local).cast("long")
    val assigned = df.withColumn("__bkt", bucket)
      .withColumn("__new", when(gap.isNull || gap > gapSeconds, 1L).otherwise(0L))
      .withColumn("__local_seq", sum("__new").over(local))
    // one row per non-empty (key, bucket): local session count + bounds
    val summary = assigned.groupBy(col(keyCol), col("__bkt"))
      .agg(max("__local_seq").as("__n_sessions"),
        min(col(tsCol).cast("long")).as("__first_ts"),
        max(col(tsCol).cast("long")).as("__last_ts"))
    val byBucket = Window.partitionBy(col(keyCol)).orderBy(col("__bkt"))
    val merged = summary.withColumn("__merge",
      when(col("__first_ts") - lag(col("__last_ts"), 1).over(byBucket)
        <= gapSeconds, 1L).otherwise(0L))
    // sessions contributed by all EARLIER buckets of the key
    val offsets = merged.withColumn("__offset",
      coalesce(sum(col("__n_sessions") - col("__merge")).over(
        byBucket.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(keyCol), col("__bkt"), col("__merge"), col("__offset"))
    // NULL-SAFE join keys: a null user key (or a null timestamp's null
    // bucket) forms its own group in both the window and the offsets
    // aggregate, but a plain equi-join would match it to nothing and
    // silently DROP those rows — where assign() and the oracle's
    // PARTITION BY both keep them as a group
    val off = offsets
      .withColumnRenamed(keyCol, "__o_key").withColumnRenamed("__bkt", "__o_bkt")
    assigned.join(off,
        col(keyCol) <=> col("__o_key") && col("__bkt") <=> col("__o_bkt"))
      .withColumn("session_seq",
        col("__offset") + col("__local_seq") - col("__merge"))
      .drop("__bkt", "__new", "__local_seq", "__merge", "__offset",
        "__o_key", "__o_bkt")
  }

  /** [[sessions]] over the skew-safe assignment (identical rows). */
  def sessionsSkewSafe(df: DataFrame, keyCol: String, tsCol: String,
                       gapSeconds: Long, bucketSeconds: Long = 86400L): DataFrame =
    assignSkewSafe(df, keyCol, tsCol, gapSeconds, bucketSeconds)
      .groupBy(keyCol, "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min(tsCol).as("session_start"), max(tsCol).as("session_end"))
}
