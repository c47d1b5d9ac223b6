package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.operators.{Features, Scaling, Upsert}
import graft.pipeline.Schemas

/** EP2 — incremental feature engineering
  * (`data_engineering/data_engineering.py:100-132`):
  * anti-join delta -> temporal -> interaction -> log -> z-scale (fit on the
  * DELTA only, the reference's semantics — SURVEY §7.5(4)) -> keep-first
  * dedup against previous output -> sorted write.
  *
  * The whole run is O(delta), not O(history): only rows absent from the
  * previous output are transformed, which is the reference's one real
  * big-data optimization and the property that matters at 100 TB. The
  * delta is materialized once with `localCheckpoint()`: the emptiness
  * check, the scaler fit and the write all read it, and each would
  * otherwise re-scan both CSV tables and re-run the anti-join.
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

  def run(spark: SparkSession, store: Store): DataFrame = {
    val raw = store.readCsvOrEmpty(CollectJob.rawFile, Schemas.raw)
    val prev = store.readCsvOrEmpty(engineeredFile, Schemas.engineered)

    // P7/J4: the incremental delta (data_engineering.py:107)
    val delta = raw.join(prev.select("datetime"), Seq("datetime"), "left_anti")
      .localCheckpoint()

    if (delta.isEmpty) return prev // P8 short-circuit (data_engineering.py:113-115)

    val engineered = engineer(delta)

    // J5+D2: previous rows win on key collision (data_engineering.py:123-127)
    val finalDf = Upsert.keepFirst(prev, engineered, Seq("datetime"))
      .transform(Schemas.project(_, Schemas.engineered))
    store.writeCsv(finalDf, engineeredFile)
    // re-read: the lazy plan above still references the pre-swap file
    store.readCsv(engineeredFile, Schemas.engineered)
  }
}
