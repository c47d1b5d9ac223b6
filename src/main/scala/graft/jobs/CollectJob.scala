package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.operators.{AsofJoin, Upsert}
import graft.pipeline.Schemas
import graft.sources.{ApiClient, Fetchers}

/** EP1 — daily collection (`raw_data_collection/raw_data.py:273-352`),
  * Spark-first: the five sources compose into ONE lazy logical plan
  * (outer joins -> as-of join -> broadcast stamp -> filters). The merged
  * day has two consumers, the quality gate and the keep-newest upsert, so
  * it is materialized once with `localCheckpoint()` and both read that
  * copy: otherwise each would re-run the whole five-feed merge (parse,
  * explode, three outer joins, as-of join). The quality gate is one
  * batched `agg` action, not per-column passes.
  */
object CollectJob {

  val rawFile = "raw_data.csv"

  /** Merge stage (`raw_data.py:210-237`): J1 full-outer equi-joins on the
    * hourly key (the half-hourly carbon rows survive until the minute
    * filter, exactly like pandas), J2 nearest-as-of price attach within
    * +-30 min, J3 one-row generation-mix stamp via broadcast cross join.
    */
  def mergeAllSources(weather: DataFrame, aqi: DataFrame, carbon: DataFrame,
                      genMix: DataFrame, prices: DataFrame): DataFrame = {
    val joined = weather
      .join(aqi, Seq("datetime"), "outer")
      .join(carbon, Seq("datetime"), "outer")
    val withPrices = AsofJoin.nearest(joined, prices, "datetime",
      toleranceSeconds = 1800L, leftKey = Seq("datetime"))
    // LOUD on an empty gen-mix frame: the cross join would otherwise wipe
    // the whole day's merged collection to 0 rows and the run would report
    // success — the reference fails with IndexError on .iloc[0] here
    // (raw_data.py:231-234), and silent data loss is strictly worse.
    require(!genMix.isEmpty,
      "generation-mix snapshot is empty — refusing to stamp (would erase the day's collection)")
    withPrices.crossJoin(broadcast(genMix.drop("datetime")))
  }

  /** Full EP1 run for `runDate`; returns the post-upsert stored table. */
  def run(spark: SparkSession, client: ApiClient, runDate: LocalDate,
          store: Store): DataFrame = {
    val weather = Fetchers.fetchWeather(spark, client, runDate)
    val aqi = Fetchers.fetchAirQuality(spark, client, runDate)
    val carbon = Fetchers.fetchCarbonIntensity(spark, client, runDate)
    val genMix = Fetchers.fetchGenerationMix(spark, client)
    val prices = Fetchers.fetchOctopusPrices(spark, client, runDate)

    val merged = mergeAllSources(weather, aqi, carbon, genMix, prices)
      .where(to_date(col("datetime")) === lit(runDate.toString).cast("date")) // raw_data.py:310
      .where(minute(col("datetime")) === 0) // raw_data.py:313
      .transform(Schemas.project(_, Schemas.raw))
      .localCheckpoint()

    qualityGate(merged)
    upsert(spark, store, merged, runDate)
  }

  /** D1 upsert-keep-newest of `runDate`'s collected rows into the raw
    * history (`raw_data.py:241-269`). The rows all fall on `runDate` in
    * the session time zone, so only the day files of the UTC days that
    * date spans are read, merged and replaced — one file under a UTC
    * session; the rest of the history is never opened. Returns the whole
    * post-upsert history.
    */
  def upsert(spark: SparkSession, store: Store, merged: DataFrame,
             runDate: LocalDate): DataFrame = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val days = Seq(runDate.atStartOfDay(zone), runDate.plusDays(1).atStartOfDay(zone).minusNanos(1))
      .map(_.withZoneSameInstant(java.time.ZoneOffset.UTC).toLocalDate.toString).toSet
    val stored = store.csvDays(rawFile)
    val existing = store.readCsvDays(rawFile, Schemas.raw, days.flatMap(stored.get))
    val combined = Upsert.keepNewest(existing, merged, Seq("datetime"))
    store.writeCsv(combined.transform(Schemas.project(_, Schemas.raw)), rawFile)
    // re-read: the lazy plan above still references the pre-swap file
    store.readCsv(rawFile, Schemas.raw)
  }

  /** Completeness check (`raw_data.py:319-339`) as ONE aggregation action;
    * thresholds per `raw_data.py:336`.
    */
  def qualityGate(df: DataFrame): Unit = {
    val row = df.agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - count(col("carbon_intensity_actual"))).as("missing_carbon"),
      (count(lit(1)) - count(col("`retail_price_£_per_kWh`"))).as("missing_prices"),
      (count(lit(1)) - count(col("temperature_C"))).as("missing_weather")).head()
    val (n, mc, mp, mw) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    System.err.println(s"[collect] $n hourly rows; missing weather $mw, carbon $mc, prices $mp")
    if (mc > 2 || mp > 5)
      System.err.println("[collect] WARNING: High missing data count (APIs may not have updated yet)")
  }
}
