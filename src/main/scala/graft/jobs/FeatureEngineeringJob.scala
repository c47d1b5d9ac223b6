package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.operators.{Features, Scaling}
import graft.pipeline.Schemas

/** EP2 — incremental feature engineering
  * (`data_engineering/data_engineering.py:100-132`):
  * anti-join delta -> temporal -> interaction -> log -> z-scale (fit on the
  * DELTA only, the reference's semantics — SURVEY §7.5(4)) -> union with
  * the previous output -> sorted write. The reference's keep-first dedup
  * against the previous output (`data_engineering.py:123-127`) needs no
  * window here: the delta was just anti-joined against those rows on
  * `datetime`, so no key of it can collide with one of theirs.
  *
  * The whole run is O(delta), not O(history). Only rows absent from the
  * previous output are transformed — the reference's one real big-data
  * optimization — and the anti-join itself runs only over CANDIDATE DAYS:
  * raw day files that have not been engineered yet. The watermark is
  * explicit, in the file names: an engineered day file carries the write
  * id of the raw day file it was derived from ([[graft.io.Store.DayFile]]),
  * and a raw day file gets a new id whenever it is rewritten. A raw day
  * whose engineered file carries its id has all its rows engineered
  * already, so its rows cannot be in the delta, and the delta over the
  * candidate days equals the reference's anti-join over the whole
  * history. A steady-state run reads the run day's raw file and (if any)
  * its engineered file, and replaces only the candidate days' engineered
  * files. The delta is materialized once with `localCheckpoint()`: the
  * emptiness check, the scaler fit and the write all read it, and each
  * would otherwise re-read both CSV days and re-run the anti-join. When no
  * candidate day has an engineered file yet (the daily case), the delta
  * cannot be empty and has no previous rows to union with, so that run
  * checks neither: it submits no emptiness job and reads no engineered
  * day.
  */
object FeatureEngineeringJob {

  val engineeredFile = "engineered_data.csv"

  /** The 4-stage derivation chain applied to a delta batch
    * (`data_engineering.py:118-121`).
    */
  def engineer(delta: DataFrame): DataFrame = {
    val chained = Scaling.zscore(
      Features.withLogTransforms(
        Features.withInteractions(
          Features.withTemporal(delta))),
      Scaling.referenceColumns)
    Schemas.project(chained, Schemas.engineered)
  }

  /** Engineer the candidate days; returns the whole engineered history. */
  def run(spark: SparkSession, store: Store): DataFrame = {
    val raw = store.csvDays(CollectJob.rawFile)
    val eng = store.csvDays(engineeredFile)
    val candidates = raw.values.filterNot(r => eng.get(r.day).exists(_.id == r.id))
    if (candidates.nonEmpty) {
      val ids = candidates.map(c => c.day -> c.id).toMap
      val prevFiles = candidates.flatMap(c => eng.get(c.day))
      val prev = store.readCsvDays(engineeredFile, Schemas.engineered, prevFiles)

      // P7/J4: the incremental delta (data_engineering.py:107)
      val delta = store.readCsvDays(CollectJob.rawFile, Schemas.raw, candidates)
        .join(prev.select("datetime"), Seq("datetime"), "left_anti")
        .localCheckpoint()

      if (prevFiles.isEmpty)
        // days never engineered (the daily case): the delta is all their
        // rows, not empty as a day file holds at least one, and there is
        // no previous row to keep (the raw history is unique on `datetime`)
        store.writeCsvDays(engineer(delta), engineeredFile, "datetime", ids)
      else if (delta.isEmpty) // P8 short-circuit (data_engineering.py:113-115): the
        // candidates' engineered rows stand as they are; only their watermark moves
        prevFiles.foreach(p => store.renameCsvDay(engineeredFile, p, p.copy(id = ids(p.day))))
      else {
        // J5+D2 (data_engineering.py:123-127): previous rows win on key
        // collision, and the anti-join above left the delta none to lose
        store.writeCsvDays(prev.unionByName(engineer(delta)),
          engineeredFile, "datetime", ids)
      }
    }
    // re-read: the lazy plans above still reference the pre-swap files
    store.readCsvOrEmpty(engineeredFile, Schemas.engineered)
  }
}
