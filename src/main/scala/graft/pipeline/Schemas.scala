package graft.pipeline

import org.apache.spark.sql.types._

/** Explicit StructTypes for every persisted/transient table (SURVEY.md §1).
  *
  * The reference re-infers dtypes from CSV every run (`pd.read_csv` with no
  * dtype spec, `data_engineering.py:15`); explicit schemas are the
  * Spark-idiomatic, deterministic replacement. All value columns nullable
  * (outer-join gaps and API partial failures are normal); `datetime` is the
  * key. Column names keep the reference's `%`/`£` verbatim
  * (`raw_data.py:40-44,152,200`).
  */
object Schemas {

  private def d(name: String) = StructField(name, DoubleType, nullable = true)
  private def i(name: String) = StructField(name, IntegerType, nullable = true)
  private def s(name: String) = StructField(name, StringType, nullable = true)

  val datetime: StructField = StructField("datetime", TimestampType, nullable = true)

  val weatherCols: Seq[String] = Seq(
    "temperature_C", "humidity_%", "wind_speed_mps", "cloud_cover_%", "solar_radiation_Wm2")
  val aqiCols: Seq[String] = Seq("pm10", "pm2_5", "co", "no2", "so2", "o3", "aqi_us")
  val genMixCols: Seq[String] = Seq(
    "uk_gen_biomass_%", "uk_gen_imports_%", "uk_gen_gas_%",
    "uk_gen_nuclear_%", "uk_gen_solar_%", "uk_gen_wind_%")

  /** `data/raw_data.csv` — 23 columns (`raw_data.py:36-45,65-76,119-125,147-152,200`). */
  val raw: StructType = StructType(
    datetime +:
      (weatherCols.map(d) ++ aqiCols.map(d) ++
        Seq(d("carbon_intensity_actual"), d("carbon_intensity_forecast"), s("carbon_index")) ++
        genMixCols.map(d) :+ d("retail_price_£_per_kWh")))

  /** 32 derived columns in reference order (`data_engineering.py:31-97`). */
  val derivedCols: Seq[StructField] = Seq(
    i("hour"), i("day_of_week"), i("month"), i("day_of_month"), i("week_of_year"),
    i("is_weekend"), i("is_peak_hour"), i("is_night"),
    d("hour_sin"), d("hour_cos"), d("month_sin"), d("month_cos"),
    d("renewable_pct"), d("fossil_pct"), d("heating_demand"), d("cooling_demand"),
    d("wind_solar_combined"), d("carbon_per_price"),
    d("log_so2"), d("log_pm2_5"), d("log_co"), d("log_no2"), d("log_pm10"),
    d("log_solar_radiation_Wm2"), d("log_uk_gen_solar_%"), d("log_aqi_us"),
    d("scaled_temperature_C"), d("scaled_wind_speed_mps"), d("scaled_humidity_%"),
    d("scaled_carbon_intensity_actual"), d("scaled_uk_gen_wind_%"), d("scaled_uk_gen_gas_%"))

  /** `data/engineered_data.csv` — 55 columns. */
  val engineered: StructType = StructType(raw.fields ++ derivedCols)

  // ---- transient API payload schemas (from_json) --------------------------

  /** Open-Meteo archive/air-quality shape: {"hourly": {"time": [...], ...}} */
  def openMeteoHourly(series: Seq[String]): StructType =
    StructType(Seq(StructField("hourly", StructType(
      StructField("time", ArrayType(StringType), nullable = true) +:
        series.map(n => StructField(n, ArrayType(DoubleType), nullable = true))),
      nullable = true)))

  /** UK carbon intensity: {"data": [{"from","to","intensity":{actual,forecast,index}}]} */
  val carbonIntensity: StructType = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("from", StringType, nullable = true),
      StructField("to", StringType, nullable = true),
      StructField("intensity", StructType(Seq(
        StructField("actual", DoubleType, nullable = true),
        StructField("forecast", DoubleType, nullable = true),
        StructField("index", StringType, nullable = true))), nullable = true)))),
      nullable = true)))

  /** UK generation mix: {"data": {"from", "generationmix": [{"fuel","perc"}]}} */
  val generationMix: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("from", StringType, nullable = true),
      StructField("generationmix", ArrayType(StructType(Seq(
        StructField("fuel", StringType, nullable = true),
        StructField("perc", DoubleType, nullable = true)))), nullable = true))),
      nullable = true)))

  /** Octopus product list: {"results": [{"code", "links": [{"href",...}]}]} */
  val octopusProducts: StructType = StructType(Seq(
    StructField("results", ArrayType(StructType(Seq(
      StructField("code", StringType, nullable = true),
      StructField("links", ArrayType(StructType(Seq(
        StructField("href", StringType, nullable = true),
        StructField("method", StringType, nullable = true),
        StructField("rel", StringType, nullable = true)))), nullable = true)))),
      nullable = true)))

  /** Octopus unit rates: {"results": [{"valid_from", "value_inc_vat"}]} */
  val octopusRates: StructType = StructType(Seq(
    StructField("results", ArrayType(StructType(Seq(
      StructField("valid_from", StringType, nullable = true),
      StructField("valid_to", StringType, nullable = true),
      StructField("value_exc_vat", DoubleType, nullable = true),
      StructField("value_inc_vat", DoubleType, nullable = true)))), nullable = true)))

  /** Project a frame to exactly a schema's columns, in order (backtick-
    * quoted: `%`/`£` names). ONE definition for the call sites in
    * CollectJob/FeatureEngineeringJob — a projection tweak must not be
    * applied to some of the copies only. The keep-newest/keep-first
    * upserts need none: their output has the columns of the stored side.
    */
  def project(df: org.apache.spark.sql.DataFrame,
              schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    df.select(schema.fieldNames.map(n =>
      org.apache.spark.sql.functions.col(s"`$n`")): _*)
}
