package graft.sources

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Schemas

/** S1-S5: the five REST sources (`raw_data_collection/raw_data.py:22-206`),
  * re-expressed Spark-first. The driver only moves payload strings; every
  * parse (`from_json`), flatten (`explode`/`arrays_zip`), normalization and
  * filter is a Catalyst plan over a one-row Dataset — the same plan shape
  * that handles a million payload files on a cluster
  * (`spark.read.json(dir)`), so nothing here changes at scale.
  *
  * Date parameters ("yesterday") are INJECTED (`runDate`), never wall-clock:
  * the reference recomputes now() in six places (`raw_data.py:16-17,83-84,
  * 203,250,275,309`), which makes runs irreproducible — SURVEY §7.5(7).
  *
  * The run date must not reach generated code as a constant. Spark
  * compiles each whole-stage pipeline to a Java class and caches it by its
  * source text, and a daily job that runs again tomorrow should hit that
  * cache. A filter `to_date(ts) = DATE'…'` is rewritten by the optimizer
  * into a range over `ts` whose bounds are `long` literals written into
  * the source, so each day would compile its own classes. [[onDay]]
  * compares strings instead: a string literal is passed to the class as a
  * reference object, and the source is the same on every day.
  */
object Fetchers {

  val weatherUrl = "https://archive-api.open-meteo.com/v1/archive"
  val airQualityUrl = "https://air-quality-api.open-meteo.com/v1/air-quality"
  val carbonIntensityUrl = "https://api.carbonintensity.org.uk/intensity/date"
  val generationMixUrl = "https://api.carbonintensity.org.uk/generation"
  val octopusProductsUrl = "https://api.octopus.energy/v1/products/"

  private def payloadDF(spark: SparkSession, json: String*): DataFrame = {
    import spark.implicits._
    json.toDF("j")
  }

  /** `ts` falls on `day` in the session time zone (pandas `.dt.date ==`),
    * with the day as a string literal so it stays out of generated code.
    */
  def onDay(ts: Column, day: LocalDate): Column =
    date_format(ts, "yyyy-MM-dd") === lit(day.toString)

  /** pandas `to_datetime(errors="coerce")` parity: null on unparseable input,
    * accepting the formats the five APIs actually emit — ISO seconds, and
    * the carbon API's minute-precision `2018-01-20T12:00Z`.
    */
  private def coerceTs(c: Column): Column =
    coalesce(
      try_to_timestamp(c),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mmX")),
      try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ssX")))

  /** Open-Meteo hourly-arrays shape -> rows: zip the parallel arrays and
    * explode (`raw_data.py:36-45`).
    */
  private def openMeteo(spark: SparkSession, json: String,
                        series: Seq[(String, String)]): DataFrame = {
    val apiNames = series.map(_._1)
    val parsed = payloadDF(spark, json)
      .select(from_json(col("j"), Schemas.openMeteoHourly(apiNames)).as("p"))
    val zipped = arrays_zip(
      (col("p.hourly.time") +: apiNames.map(n => col(s"p.hourly.$n"))): _*)
    parsed.select(explode(zipped).as("r"))
      .select(
        (coerceTs(col("r.time")).as("datetime") +:
          series.map { case (api, out) => col(s"r.$api").as(out) }): _*)
  }

  /** S1 weather (`raw_data.py:22-47`): 5 hourly series for `runDate`. */
  def fetchWeather(spark: SparkSession, client: ApiClient, runDate: LocalDate,
                   lat: Double = 51.5072, lon: Double = -0.1276): DataFrame = {
    val url = s"$weatherUrl?latitude=$lat&longitude=$lon" +
      s"&start_date=$runDate&end_date=$runDate" +
      "&hourly=temperature_2m,relative_humidity_2m,wind_speed_10m,cloudcover,shortwave_radiation"
    openMeteo(spark, client.get(url), Seq(
      "temperature_2m" -> "temperature_C",
      "relative_humidity_2m" -> "humidity_%",
      "wind_speed_10m" -> "wind_speed_mps",
      "cloudcover" -> "cloud_cover_%",
      "shortwave_radiation" -> "solar_radiation_Wm2"))
  }

  /** S2 air quality (`raw_data.py:51-77`): 7 pollutant series. */
  def fetchAirQuality(spark: SparkSession, client: ApiClient, runDate: LocalDate,
                      lat: Double = 51.5072, lon: Double = -0.1276): DataFrame = {
    val url = s"$airQualityUrl?latitude=$lat&longitude=$lon" +
      s"&start_date=$runDate&end_date=$runDate" +
      "&hourly=pm10,pm2_5,carbon_monoxide,nitrogen_dioxide,sulphur_dioxide,ozone,us_aqi"
    openMeteo(spark, client.get(url), Seq(
      "pm10" -> "pm10", "pm2_5" -> "pm2_5", "carbon_monoxide" -> "co",
      "nitrogen_dioxide" -> "no2", "sulphur_dioxide" -> "so2",
      "ozone" -> "o3", "us_aqi" -> "aqi_us"))
  }

  /** S3 carbon intensity (`raw_data.py:81-134`): two date URLs with per-URL
    * failure tolerance, null-safe struct flattening, coerce-to-null
    * timestamp parse, filter to `runDate`. Returns the declared empty frame
    * when both URLs fail (`raw_data.py:102-111`). The fetched payloads are
    * the rows of ONE frame, parsed by one plan: a union of one plan per
    * payload would compile each branch as its own class.
    */
  def fetchCarbonIntensity(spark: SparkSession, client: ApiClient,
                           runDate: LocalDate): DataFrame = {
    val urls = Seq(s"$carbonIntensityUrl/$runDate", s"$carbonIntensityUrl/${runDate.plusDays(1)}")
    val payloads = urls.flatMap { u =>
      try Some(client.get(u))
      catch { case e: Exception => System.err.println(s"Error fetching $u: ${e.getMessage}"); None }
    }
    val outCols = Seq("datetime", "carbon_intensity_actual", "carbon_intensity_forecast", "carbon_index")
    if (payloads.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Schemas.raw.filter(f => outCols.contains(f.name))))
    payloadDF(spark, payloads: _*)
      .select(explode(from_json(col("j"), Schemas.carbonIntensity).getField("data")).as("r"))
      .where(col("r.from").isNotNull && col("r.from") =!= "") // raw_data.py:116-117
      .select(
        coerceTs(col("r.from")).as("datetime"), // unparseable -> null (coerce)
        col("r.intensity.actual").as("carbon_intensity_actual"),
        col("r.intensity.forecast").as("carbon_intensity_forecast"),
        col("r.intensity.index").as("carbon_index"))
      .where(onDay(col("datetime"), runDate)) // raw_data.py:132
  }

  /** S4 generation-mix snapshot (`raw_data.py:138-154`): list of
    * {fuel, perc} -> one wide row via normalize + whitelist + pivot. The
    * snapshot is one record, so the pivot is a projection of its array:
    * each whitelisted fuel takes the `perc` of its first entry (null when
    * absent), and a snapshot with no whitelisted fuel yields no row. Over
    * the one-row payload the optimizer evaluates it while planning, so it
    * costs no job and no shuffle.
    */
  def fetchGenerationMix(spark: SparkSession, client: ApiClient): DataFrame = {
    val whitelist = Seq("biomass", "imports", "gas", "nuclear", "solar", "wind")
    def fuel(m: Column): Column = lower(regexp_replace(m.getField("fuel"), " ", "_")) // raw_data.py:149
    val mix = col("d.generationmix")
    payloadDF(spark, client.get(generationMixUrl))
      .select(from_json(col("j"), Schemas.generationMix).getField("data").as("d"))
      .where(exists(mix, m => fuel(m).isin(whitelist: _*))) // raw_data.py:151
      .select(coerceTs(col("d.from")).as("datetime") +: whitelist.map(f =>
        try_element_at(filter(mix, m => fuel(m) === f), lit(1)).getField("perc")
          .as(s"uk_gen_${f}_%")): _*)
  }

  /** S5 Octopus Agile prices (`raw_data.py:158-206`): product-list filter
    * (substring AGILE, take-first in API order), tariff code parsed from the
    * electricity-tariffs link with the documented fallback, 3-day rate
    * window, pence->pounds, filter to `runDate`.
    *
    * The product/tariff selection is control plane (it decides the next
    * URL), so the one-row result is collected on the driver — the rate DATA
    * stays in the plan.
    */
  def fetchOctopusPrices(spark: SparkSession, client: ApiClient,
                         runDate: LocalDate): DataFrame = {
    val productSel = payloadDF(spark, client.get(octopusProductsUrl))
      .select(from_json(col("j"), Schemas.octopusProducts).getField("results").as("rs"))
      // array-level filter preserves API response order; try_element_at(1)
      // == take-first. try_, not element_at: Spark 4 defaults to ANSI mode,
      // where element_at on an EMPTY filtered array (no AGILE product, or a
      // product listing with only rel=self links — the real-API case the
      // coalesce fallback exists for, raw_data.py:176-179) throws
      // INVALID_ARRAY_INDEX instead of yielding the null those fallbacks
      // and the loud require below are written to handle.
      .select(try_element_at(filter(col("rs"), p => p.getField("code").contains("AGILE")), lit(1)).as("p"))
      .select(
        col("p.code").as("code"),
        try_element_at(
          filter(col("p.links"), l => l.getField("href").contains("electricity-tariffs")), lit(1))
          .getField("href").as("href"))
      .select(col("code"),
        coalesce(element_at(split(col("href"), "/"), -2),
          concat(lit("E-1R-"), col("code"), lit("-A"))).as("tariff")) // raw_data.py:176-179
      .collect()
    require(productSel.nonEmpty && productSel(0).get(0) != null, "No Agile tariffs found")
    val (productCode, tariffCode) = (productSel(0).getString(0), productSel(0).getString(1))

    val periodFrom = s"${runDate.minusDays(2)}T00:00:00Z" // 3-day window (raw_data.py:181-183)
    val periodTo = s"${runDate.plusDays(1)}T00:00:00Z"
    val ratesUrl = s"https://api.octopus.energy/v1/products/$productCode/" +
      s"electricity-tariffs/$tariffCode/standard-unit-rates/" +
      s"?period_from=$periodFrom&period_to=$periodTo"

    payloadDF(spark, client.get(ratesUrl))
      .select(explode(from_json(col("j"), Schemas.octopusRates).getField("results")).as("r"))
      .select(
        coerceTs(col("r.valid_from")).as("datetime"),
        (col("r.value_inc_vat") / 100).as("retail_price_£_per_kWh")) // raw_data.py:200
      .where(onDay(col("datetime"), runDate)) // raw_data.py:203-204
  }
}
