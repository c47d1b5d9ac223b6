package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.operators.{AsofJoin, Upsert}
import graft.pipeline.Schemas
import graft.sources.{ApiClient, Fetchers}

/** EP1 — daily collection (`raw_data_collection/raw_data.py:273-352`),
  * Spark-first: the five sources compose into ONE lazy logical plan
  * (outer joins -> as-of join -> broadcast stamp -> filters). The merged
  * day is materialized once with `localCheckpoint()`: the quality gate's
  * counts are observed metrics of that materialization, so they cost no
  * job, and the keep-newest upsert reads the copy, so the whole five-feed
  * merge (parse, explode, three outer joins, as-of join) runs once.
  *
  * The job runs once a day, usually in a JVM that ran yesterday's too, so
  * its plans are shaped to reuse Spark's generated classes. Spark 4.1
  * caches a generated class by (context class loader, source text), in an
  * LRU cache of 100 entries by default, and in `local[n]` each whole-stage
  * class is compiled twice, on the driver and in a task. So:
  *   - the run date never reaches generated code as a constant
  *     ([[graft.sources.Fetchers.onDay]]): a date or timestamp literal is
  *     written into the source, and every day would compile anew;
  *   - the two full-outer joins are shuffled hash joins, which need no
  *     sort of either side, so no sort-only stages;
  *   - a day with no stored rows is written as collected, with no
  *     keep-newest window.
  * One op then needs fewer classes than the cache holds, and a warm JVM
  * compiles almost nothing.
  */
object CollectJob {

  val rawFile = "raw_data.csv"

  /** Merge stage (`raw_data.py:210-237`): J1 full-outer equi-joins on the
    * hourly key (the half-hourly carbon rows survive until the minute
    * filter, exactly like pandas), J2 nearest-as-of price attach within
    * +-30 min, J3 one-row generation-mix stamp via broadcast cross join.
    * The as-of join keeps one row per `datetime`, so the merged frame is
    * unique on its key.
    */
  def mergeAllSources(weather: DataFrame, aqi: DataFrame, carbon: DataFrame,
                      genMix: DataFrame, prices: DataFrame): DataFrame = {
    val joined = weather
      .join(aqi.hint("shuffle_hash"), Seq("datetime"), "outer")
      .join(carbon.hint("shuffle_hash"), Seq("datetime"), "outer")
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

    val quality = Observation("quality")
    val merged = mergeAllSources(weather, aqi, carbon, genMix, prices)
      .where(Fetchers.onDay(col("datetime"), runDate)) // raw_data.py:310
      .where(minute(col("datetime")) === 0) // raw_data.py:313
      .transform(Schemas.project(_, Schemas.raw))
      .observe(quality, qualityCounts.head, qualityCounts.tail: _*)
      .localCheckpoint()

    qualityGate(quality.get)
    upsert(spark, store, merged, runDate)
  }

  /** D1 upsert-keep-newest of `runDate`'s collected rows into the raw
    * history (`raw_data.py:241-269`). The rows all fall on `runDate` in
    * the session time zone, so only the day files of the UTC days that
    * date spans are read, merged and replaced — one file under a UTC
    * session; the rest of the history is never opened. `merged` is unique
    * on `datetime`, so when none of those days is stored yet (the daily
    * case) it is written as it is. Returns the whole post-upsert history.
    */
  def upsert(spark: SparkSession, store: Store, merged: DataFrame,
             runDate: LocalDate): DataFrame = {
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val days = Seq(runDate.atStartOfDay(zone), runDate.plusDays(1).atStartOfDay(zone).minusNanos(1))
      .map(_.withZoneSameInstant(java.time.ZoneOffset.UTC).toLocalDate.toString).toSet
    val stored = days.flatMap(store.csvDays(rawFile).get)
    val combined =
      if (stored.isEmpty) merged
      else Upsert.keepNewest(store.readCsvDays(rawFile, Schemas.raw, stored), merged, Seq("datetime"))
    store.writeCsv(combined, rawFile)
    // re-read: the lazy plan above still references the pre-swap file
    store.readCsv(rawFile, Schemas.raw)
  }

  /** The completeness counts (`raw_data.py:319-335`), observed while the
    * merged day is materialized: no action of their own.
    */
  private val qualityCounts: Seq[Column] = Seq(
    count(lit(1)).as("n"),
    (count(lit(1)) - count(col("carbon_intensity_actual"))).as("missing_carbon"),
    (count(lit(1)) - count(col("`retail_price_£_per_kWh`"))).as("missing_prices"),
    (count(lit(1)) - count(col("temperature_C"))).as("missing_weather"))

  /** Completeness check (`raw_data.py:319-339`) over [[qualityCounts]];
    * thresholds per `raw_data.py:336`.
    */
  def qualityGate(counts: Map[String, Any]): Unit = {
    val Seq(n, mc, mp, mw) = Seq("n", "missing_carbon", "missing_prices", "missing_weather")
      .map(counts(_).asInstanceOf[Long])
    System.err.println(s"[collect] $n hourly rows; missing weather $mw, carbon $mc, prices $mp")
    if (mc > 2 || mp > 5)
      System.err.println("[collect] WARNING: High missing data count (APIs may not have updated yet)")
  }
}
