package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.jobs.{CollectJob, FeatureEngineeringJob}
import graft.pipeline.Schemas
import graft.sources.{ApiClient, FixtureApiClient}

/** The benchmark's own API client: serves generated payloads and counts
  * the calls and payload bytes that cross the source boundary.
  */
final class CountingClient(under: ApiClient) extends ApiClient {
  var calls = 0L
  var bytes = 0L
  override def get(url: String): String = {
    val p = under.get(url)
    calls += 1
    bytes += p.length
    p
  }
  override def head(url: String, timeoutMs: Int): Option[Double] = under.head(url, timeoutMs)
}

/** One day's five feed payloads, shaped like the live responses, with the
  * planted gaps the collect job must handle: half-hourly carbon rows, a
  * carbon record without `from`, one null carbon actual, non-whitelisted
  * and two-word fuels, next-day carbon rows, rates from earlier days of
  * the three-day window, and two price holes — an equidistant tie at
  * `tieHour` (the earlier half-hour wins) and a hole wider than the as-of
  * tolerance at `nullPriceHour` (no price).
  */
final case class Feeds(day: LocalDate, fixtures: Map[String, String],
                       nullCarbonHour: Int, nullPriceHour: Int,
                       tieHour: Int, tiePrice: Double)

object Feeds {
  private def num(x: Double): String = f"$x%.2f"

  def apply(seed: Long, day: LocalDate): Feeds = {
    val rng = new SplittableRandom(seed * 1000003L + day.toEpochDay)
    def series(base: Double, spread: Double) =
      (0 until 24).map(_ => num(base + spread * rng.nextDouble())).mkString(",")
    val hours = (0 until 24).map(h => "\"" + f"${day}T$h%02d:00" + "\"").mkString(",")
    val tieHour = 2 + rng.nextInt(5)        // 02..06
    val nullPriceHour = 9 + rng.nextInt(6)  // 09..14
    val nullCarbonHour = 16 + rng.nextInt(7) // 16..22

    val solar = (0 until 24).map(h =>
      if (h >= 22 && rng.nextInt(2) == 0) "null" else num(math.max(0, 400 * math.sin((h - 5) / 14.0 * math.Pi)))
    ).mkString(",")
    val weather =
      s"""{"hourly":{"time":[$hours],"temperature_2m":[${series(2, 15)}],
         |"relative_humidity_2m":[${series(40, 50)}],"wind_speed_10m":[${series(0.5, 9)}],
         |"cloudcover":[${series(0, 100)}],"shortwave_radiation":[$solar]}}""".stripMargin
    val air =
      s"""{"hourly":{"time":[$hours],"pm10":[${series(5, 30)}],"pm2_5":[${series(2, 20)}],
         |"carbon_monoxide":[${series(150, 200)}],"nitrogen_dioxide":[${series(10, 40)}],
         |"sulphur_dioxide":[${series(1, 6)}],"ozone":[${series(20, 60)}],
         |"us_aqi":[${series(15, 60)}]}}""".stripMargin

    val carbonRecs = (0 until 48).map { i =>
      val h = i / 2
      val m = if (i % 2 == 0) "00" else "30"
      val forecast = 80 + rng.nextInt(200)
      val actual = if (h == nullCarbonHour && m == "00") "null" else (forecast + rng.nextInt(21) - 10).toString
      f"""{"from":"${day}T$h%02d:${m}Z","to":"x","intensity":{"actual":$actual,"forecast":$forecast,"index":"moderate"}}"""
    } :+ """{"from":null,"to":"x","intensity":{"actual":1,"forecast":1,"index":"low"}}"""
    val carbonToday =
      s"""{"data":[{"from":"${day.plusDays(1)}T00:00Z","to":"x","intensity":{"actual":999,"forecast":999,"index":"high"}}]}"""

    val mix = Seq("biomass", "coal", "imports", "gas", "nuclear", "hydro", "solar", "wind", "Open Cycle", "other")
      .map(f => s"""{"fuel":"$f","perc":${num(30 * rng.nextDouble())}}""").mkString(",")
    val genMix = s"""{"data":{"from":"${day}T10:30Z","generationmix":[$mix]}}"""

    val products =
      """{"results":[
        |{"code":"FIX-12M-24","links":[{"href":"https://api.octopus.energy/v1/products/FIX-12M-24/","method":"GET","rel":"self"}]},
        |{"code":"AGILE-24-10-01","links":[
        |  {"href":"https://api.octopus.energy/v1/products/AGILE-24-10-01/electricity-tariffs/E-1R-AGILE-24-10-01-C/standard-unit-rates/","method":"GET","rel":"standard_unit_rates"}]},
        |{"code":"AGILE-OLD","links":[]}]}""".stripMargin
    // slot s = 2h + (m / 30); holes: tieHour:00, and nullPriceHour-1:30 .. nullPriceHour:30
    val holes = Set(2 * tieHour, 2 * nullPriceHour - 1, 2 * nullPriceHour, 2 * nullPriceHour + 1)
    val pence = Array.fill(48)(5 + rng.nextInt(3000) / 100.0)
    def rate(d: LocalDate, s: Int, p: Double) =
      f"""{"valid_from":"${d}T${s / 2}%02d:${if (s % 2 == 0) "00" else "30"}:00Z","valid_to":"x","value_exc_vat":1.0,"value_inc_vat":$p}"""
    val rates = (0 until 48).filterNot(holes).map(s => rate(day, s, pence(s))) ++
      Seq(rate(day.minusDays(1), 46, 99.0), rate(day.minusDays(2), 3, 98.0))

    Feeds(day, Map(
      "archive-api.open-meteo.com" -> weather,
      "air-quality-api.open-meteo.com" -> air,
      s"intensity/date/$day" -> s"""{"data":[${carbonRecs.mkString(",")}]}""",
      s"intensity/date/${day.plusDays(1)}" -> carbonToday,
      "carbonintensity.org.uk/generation" -> genMix,
      "octopus.energy/v1/products/AGILE" -> s"""{"results":[${rates.mkString(",")}]}""",
      "octopus.energy/v1/products/" -> products),
      nullCarbonHour, nullPriceHour, tieHour, pence(2 * tieHour - 1) / 100)
  }
}

/** The paper's daily pipeline. Set-up seeds `historyDays` of hourly raw
  * rows and runs one feature-engineering backfill; each op collects one
  * new day from the five feeds and engineers it. The outputs are read back
  * and checked once, after the last op, so the timed op is the program's
  * work alone.
  */
final class DailyEtl(spark: SparkSession, dir: String, seed: Long, tr: Tracer)
    extends Workload {
  import DailyEtl._
  private val store = new Store(spark, dir)
  private val feeds = scala.collection.mutable.Map[Int, Feeds]()

  def setup(): Unit = {
    store.writeCsv(history(spark, seed), CollectJob.rawFile)
    FeatureEngineeringJob.run(spark, store)
  }

  override def prepare(i: Int): Unit =
    feeds(i) = Feeds(seed, firstDay.plusDays(historyDays + i.toLong))

  def op(i: Int): Outcome = {
    val f = feeds(i)
    val client = new CountingClient(new FixtureApiClient(f.fixtures))
    tr.span("jobs.collect")(CollectJob.run(spark, client, f.day, store))
    tr.span("jobs.engineer")(FeatureEngineeringJob.run(spark, store))
    Outcome(Nil, Map(
      "sources.api_calls" -> client.calls.toDouble,
      "sources.payload_bytes" -> client.bytes.toDouble))
  }

  private def collectedDays(ops: Iterable[Int]): DataFrame =
    store.readCsv(CollectJob.rawFile, Schemas.raw)
      .where(to_date(col("datetime")).isin(ops.toSeq.map(i => lit(feeds(i).day.toString).cast("date")): _*))

  /** Both tables hold history plus one day per op, each `datetime` once,
    * and the engineered table its 55 columns; each collected day holds 24
    * hourly rows with its planted null carbon actual and price hole still
    * null and its price tie resolved to the earlier half-hour.
    */
  override def finalCheck(): Map[Int, Seq[String]] = {
    val raw = store.readCsv(CollectJob.rawFile, Schemas.raw)
      .agg(count(lit(1)), countDistinct(col("datetime"))).head()
    val engDf = store.readCsv(FeatureEngineeringJob.engineeredFile, Schemas.engineered)
    val eng = engDf.agg(count(lit(1)), countDistinct(col("datetime"))).head()
    val rows = (historyDays + feeds.size.toLong) * 24
    val run = Seq(
      s"raw rows ${raw.getLong(0)} != $rows" -> (raw.getLong(0) != rows),
      s"raw datetime not unique" -> (raw.getLong(1) != raw.getLong(0)),
      s"engineered rows ${eng.getLong(0)} != $rows" -> (eng.getLong(0) != rows),
      s"engineered datetime not unique" -> (eng.getLong(1) != eng.getLong(0)),
      s"engineered has ${engDf.columns.length} columns, not 55" -> (engDf.columns.length != 55)
    ).collect { case (msg, true) => msg }
    val hours = collectedDays(feeds.keys)
      .select(date_format(col("datetime"), "yyyy-MM-dd"), hour(col("datetime")),
        col("carbon_intensity_actual").isNull, col("`retail_price_£_per_kWh`"))
      .collect().groupBy(_.getString(0))
    val byOp = feeds.toSeq.map { case (i, f) =>
      val at = hours.getOrElse(f.day.toString, Array.empty).map(r => r.getInt(1) -> r).toMap
      val tie = at.get(f.tieHour).filterNot(_.isNullAt(3)).map(_.getDouble(3))
      i -> Seq(
        s"day ${f.day} has ${at.size} hourly rows, not 24" -> (at.size != 24),
        s"planted null carbon at ${f.nullCarbonHour}h not null" -> !at.get(f.nullCarbonHour).exists(_.getBoolean(2)),
        s"planted price hole at ${f.nullPriceHour}h not null" -> !at.get(f.nullPriceHour).exists(_.isNullAt(3)),
        s"tie at ${f.tieHour}h did not take the earlier half-hour" -> !tie.exists(p => math.abs(p - f.tiePrice) <= 1e-9)
      ).collect { case (msg, true) => s"op $i: $msg" }
    }.filter(_._2.nonEmpty).toMap
    if (run.isEmpty) byOp else byOp + (-1 -> run)
  }

  def format: String = "csv"

  def submitted(ops: Seq[Int]): DataFrame = collectedDays(ops)

  def storeDir: String = dir
}

object DailyEtl {
  val historyDays = 90
  val firstDay: LocalDate = LocalDate.parse("2022-01-01")

  /** `historyDays` x 24 hourly raw rows with seeded values. */
  def history(spark: SparkSession, seed: Long): DataFrame = {
    val base = firstDay.toEpochDay * 86400L
    val fields = Schemas.raw.fields.drop(1)
    val cols = fields.zipWithIndex.map { case (f, k) =>
      val r = rand(seed * 131 + k)
      val v =
        if (f.dataType == org.apache.spark.sql.types.StringType)
          element_at(array(lit("low"), lit("moderate"), lit("high")), (r * 3).cast("int") + 1)
        else round(r * 100, 2)
      v.cast(f.dataType).as(f.name)
    }
    spark.range(0, historyDays * 24L, 1, 3)
      .select(timestamp_seconds(lit(base) + col("id") * 3600).as("datetime") +: cols: _*)
  }
}
