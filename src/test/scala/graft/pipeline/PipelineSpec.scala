package graft.pipeline

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.{ListingCountingFs, Store}
import graft.jobs.{CollectJob, FeatureEngineeringJob}
import graft.sources.FixtureApiClient

/** Golden end-to-end test of EP1+EP2 with injected runDate and fixture API
  * payloads, covering the pandas-semantics gotchas (as-of tie-break, minute
  * filter, weekday base, stddev_pop, clip-null, D1/D2 asymmetry).
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val runDate: LocalDate = LocalDate.parse("2024-03-10") // a Sunday
  def freshStore(): Store = new Store(spark, Files.createTempDirectory("graft_store").toString)

  private def collect(store: Store, d: LocalDate = runDate,
                      failing: Set[String] = Set.empty) = {
    val client = new FixtureApiClient(Payloads.all(d), failingUrls = failing)
    CollectJob.run(spark, client, d, store)
  }

  test("EP1 octopus: a products listing without tariff links takes the code fallback") {
    // the real /v1/products/ listing can carry only rel=self links; the
    // take-first/link-parse must then fall back to E-1R-<code>-A
    // (raw_data.py:176-179) — and under Spark 4's default ANSI mode that
    // path only survives with try_element_at (element_at on the empty
    // filtered array would throw INVALID_ARRAY_INDEX, never reaching the
    // fallback). The rates fixture still resolves because the fallback
    // tariff URL contains the same product prefix.
    val noLinks = Payloads.all(runDate) + ("octopus.energy/v1/products/" ->
      """{"results":[
        |{"code":"AGILE-24-10-01","links":[
        |  {"href":"https://api.octopus.energy/v1/products/AGILE-24-10-01/","method":"GET","rel":"self"}]}
        |]}""".stripMargin)
    val client = new FixtureApiClient(noLinks)
    val prices = graft.sources.Fetchers.fetchOctopusPrices(spark, client, runDate)
    assert(prices.count() > 0, "fallback tariff path produced no rates")
  }

  test("EP1 collection: 24 hourly rows, 23 columns, sorted") {
    val store = freshStore()
    val out = collect(store)
    assert(out.columns.toSeq == Schemas.raw.fieldNames.toSeq)
    assert(out.count() == 24)
    val written = store.readCsv(CollectJob.rawFile, Schemas.raw)
    assert(written.count() == 24)
    // half-hourly carbon rows must have been dropped by the minute filter
    assert(written.where(minute(col("datetime")) =!= 0).count() == 0)
  }

  test("EP1 executes the five-feed merge once per run (quality gate and upsert share it)") {
    // every SQL execution whose plan parses the weather payload (its
    // explode(arrays_zip(...)) over the hourly series) re-runs the merge
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      collect(freshStore())
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val merges = plans.asScala.count(p =>
      p.contains("explode(arrays_zip(") && p.contains("temperature_2m"))
    assert(merges == 1, s"the merge ran $merges times")
  }

  test("EP1 as-of join: exact matches, equidistant tie -> earlier wins, gap -> null") {
    val out = collect(freshStore()).withColumn("h", hour(col("datetime")))
      .select("h", "retail_price_£_per_kWh").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(0) == 0.10) // exact half-hour slot
    assert(out(4) == 0.14)
    assert(out(5) == 0.145) // tie: 04:30 vs 05:30 -> earlier (04:30) wins
    assert(out(7) == 0.165) // tie: 06:30 vs 07:30 -> earlier wins
    assert(out(9) == null) // nothing within +-30 min -> left-preserved null
    assert(out(10) == 0.205) // only 10:30 in range -> nearest forward
    assert(out(23) == 0.33)
  }

  test("EP1 carbon: null-safe flattening, record without 'from' skipped, today filtered") {
    val out = collect(freshStore()).withColumn("h", hour(col("datetime")))
    // 02:00 planted null actual survives as null (not dropped, not 0)
    val r2 = out.where(col("h") === 2).select("carbon_intensity_actual").head()
    assert(r2.isNullAt(0))
    // hourly rows carry the :00 half-hour slot values: slot i=2h -> 100+i
    val r3 = out.where(col("h") === 3).select("carbon_intensity_actual").head()
    assert(r3.getDouble(0) == 106.0)
    // the "today" record (actual=999) must not leak in
    assert(out.where(col("carbon_intensity_actual") === 999.0).count() == 0)
  }

  test("EP1 generation mix: whitelist + normalize + one-row broadcast stamp") {
    val out = collect(freshStore())
    assert(!out.columns.contains("uk_gen_coal_%") && !out.columns.contains("uk_gen_hydro_%"))
    val rows = out.select("uk_gen_wind_%", "uk_gen_biomass_%").distinct().collect()
    assert(rows.length == 1) // same snapshot stamped on every row
    assert(rows(0).getDouble(0) == 25.4 && rows(0).getDouble(1) == 5.2)
  }

  test("EP1 weather nulls propagate (solar 22:00/23:00 planted nulls)") {
    val out = collect(freshStore()).where(hour(col("datetime")) >= 22)
      .select("solar_radiation_Wm2").collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("EP1 upsert keep-newest: re-collection replaces stored rows") {
    val store = freshStore()
    collect(store)
    // second run for the same date with different weather values
    val bumped = Payloads.all(runDate) +
      ("archive-api.open-meteo.com" ->
        Payloads.weather(runDate).replace("\"temperature_2m\":[5.0", "\"temperature_2m\":[50.0"))
    CollectJob.run(spark, new FixtureApiClient(bumped), runDate, store)
    val t0 = store.readCsv(CollectJob.rawFile, Schemas.raw)
      .where(hour(col("datetime")) === 0).select("temperature_C").head().getDouble(0)
    assert(t0 == 50.0) // D1: newest wins
    assert(store.readCsv(CollectJob.rawFile, Schemas.raw).count() == 24) // no dup keys
  }

  test("EP1 carbon partial failure tolerated (both URLs down -> empty but runs)") {
    val store = freshStore()
    val out = collect(store, failing = Set("intensity/date"))
    assert(out.count() == 24)
    assert(out.where(col("carbon_intensity_actual").isNotNull).count() == 0)
  }

  test("EP2 feature engineering: 55 columns, pandas-parity derivations") {
    val store = freshStore()
    collect(store)
    val out = FeatureEngineeringJob.run(spark, store)
    assert(out.columns.toSeq == Schemas.engineered.fieldNames.toSeq)
    assert(out.count() == 24)

    val r10 = out.where(hour(col("datetime")) === 10).head()
    def f(n: String) = r10.get(r10.fieldIndex(n))
    assert(f("day_of_week") == 6) // Sunday, pandas Monday=0 base
    assert(f("is_weekend") == 1)
    assert(f("is_peak_hour") == 0)
    assert(f("is_night") == 0)
    assert(f("week_of_year") == 10) // ISO week of 2024-03-10
    assert(math.abs(f("hour_sin").asInstanceOf[Double] -
      math.sin(2 * math.Pi * 10 / 24)) < 1e-12)
    // interaction: renewable = wind + solar from the stamped snapshot
    assert(f("renewable_pct") == 25.4 + 8.3)
    assert(f("fossil_pct") == 30.5)
    // temperature at hour 10 is 10.0 -> heating 8, cooling 0
    assert(f("heating_demand") == 8.0)
    assert(f("cooling_demand") == 0.0)
    // log1p(fillna(0)): solar at 22:00 is null -> log 0
    val r22 = out.where(hour(col("datetime")) === 22).head()
    assert(r22.getDouble(r22.fieldIndex("log_solar_radiation_Wm2")) == 0.0)
  }

  test("EP2 clip preserves nulls (pandas semantics)") {
    val store = freshStore()
    // temperature null when weather missing entirely: drop weather source values
    val noWeather = Payloads.all(runDate) +
      ("archive-api.open-meteo.com" ->
        Payloads.weather(runDate).replaceAll("\"temperature_2m\":\\[[^\\]]*\\]",
          "\"temperature_2m\":[" + Seq.fill(24)("null").mkString(",") + "]"))
    CollectJob.run(spark, new FixtureApiClient(noWeather), runDate, store)
    val out = FeatureEngineeringJob.run(spark, store)
    val r = out.where(hour(col("datetime")) === 5).head()
    assert(r.isNullAt(r.fieldIndex("heating_demand"))) // NOT 0 — null must survive clip
    assert(r.isNullAt(r.fieldIndex("cooling_demand")))
  }

  test("EP2 scaler: population stddev, fit on delta, fillna(0)") {
    val store = freshStore()
    collect(store)
    val out = FeatureEngineeringJob.run(spark, store)
    // temperatures 5.0 + h*0.5 for h=0..23 -> mean 10.75, std_pop of that series
    val xs = (0 until 24).map(h => 5.0 + h * 0.5)
    val mean = xs.sum / 24
    val std = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum / 24)
    val z0 = out.where(hour(col("datetime")) === 0)
      .select("scaled_temperature_C").head().getDouble(0)
    assert(math.abs(z0 - (5.0 - mean) / std) < 1e-12)
  }

  test("EP2 incremental: second day processed as delta; previous rows keep-first") {
    val store = freshStore()
    collect(store)
    val day1 = FeatureEngineeringJob.run(spark, store)
    val z0Day1 = day1.where(hour(col("datetime")) === 0)
      .select("scaled_temperature_C").head().getDouble(0)

    // collect day 2 into the same store, then re-run FE
    val d2 = runDate.plusDays(1)
    collect(store, d = d2)
    val out = FeatureEngineeringJob.run(spark, store)
    assert(out.count() == 48)
    // day-1 engineered rows are UNCHANGED (D2 keep-first): same z-score even
    // though a full refit over 48 rows would differ
    val z0After = out.where(to_date(col("datetime")) === lit(runDate.toString).cast("date"))
      .where(hour(col("datetime")) === 0).select("scaled_temperature_C").head().getDouble(0)
    assert(z0After == z0Day1)
    // day-2 rows were scaled against the DELTA (day-2 batch) only: its own
    // hour-0 z-score equals day-1's hour-0 z-score (identical series shape)
    val z0Day2 = out.where(to_date(col("datetime")) === lit(d2.toString).cast("date"))
      .where(hour(col("datetime")) === 0).select("scaled_temperature_C").head().getDouble(0)
    assert(math.abs(z0Day2 - z0Day1) < 1e-12)
  }

  test("FE tolerates total collection failure (workflow_run fires even on failure)") {
    // the reference's downstream job runs regardless of upstream conclusion
    // (data_engineering.yml:4-8): FE off an empty store is a clean no-op,
    // and off a previous day's store it reprocesses nothing
    val store = freshStore()
    intercept[Exception] {
      CollectJob.run(spark,
        new FixtureApiClient(Map.empty, failingUrls = Set("http")), runDate, store)
    }
    val out = FeatureEngineeringJob.run(spark, store)
    assert(out.isEmpty) // no raw data -> empty engineered frame, no crash
  }

  test("one EP1+EP2 op lists and reads the same at 3 and at 30 days of history") {
    // the op touches the run day's files only: its listings and bytes read
    // do not grow with the history (a whole-history rewrite reads ~10x
    // more at 30 days than at 3)
    ListingCountingFs.register(spark)
    def op(historyDays: Int): (Map[String, Int], Long, Long) = {
      val base = Files.createTempDirectory("graft_budget").toString
      val store = new Store(spark, s"countfs://$base")
      val days = (1 to historyDays).map(i => runDate.minusDays(i.toLong))
      store.writeCsv(RawDays.rows(spark, days), CollectJob.rawFile)
      FeatureEngineeringJob.run(spark, store)
      ListingCountingFs.clear()
      val read0 = ListingCountingFs.bytesRead
      collect(store)
      FeatureEngineeringJob.run(spark, store)
      val read = ListingCountingFs.bytesRead - read0
      // listings by directory, relative to the store (tmp dir names vary)
      val listed = ListingCountingFs.listed.toArray.toSeq.map(_.toString.stripPrefix(base))
        .map(_.replaceAll("[0-9a-f]{8,}", "X").replaceAll("[0-9]+", "N"))
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
      val dayFile = Seq(CollectJob.rawFile, FeatureEngineeringJob.engineeredFile).map { rel =>
        val s = Files.list(java.nio.file.Paths.get(base, rel))
        try s.toArray.toSeq.map(p => Files.size(p.asInstanceOf[java.nio.file.Path])).max finally s.close()
      }.max
      (listed, read, dayFile)
    }
    val (listed3, read3, file3) = op(3)
    val (listed30, read30, file30) = op(30)
    assert(listed3.values.sum == listed30.values.sum,
      s"listings at 3 days: $listed3; at 30 days: $listed30")
    assert(math.abs(read30 - read3) <= math.max(file3, file30),
      s"bytes read at 3 days: $read3; at 30 days: $read30")
  }

  test("a warm daily op finds its generated classes in Spark's codegen cache") {
    // the cache is JVM-wide (100 entries by default, keyed by class loader
    // and source text), so after one op the next day's op should compile
    // almost nothing: it recompiles when its plans inline the run date or
    // need more classes than the cache holds
    val store = freshStore()
    def compiles(d: LocalDate): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      collect(store, d)
      FeatureEngineeringJob.run(spark, store)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    compiles(runDate)
    val warm = compiles(runDate.plusDays(1))
    assert(warm <= 15, s"the next day's op compiled $warm classes")
  }

  test("EP2 no-op when no new rows (P8 short-circuit)") {
    val store = freshStore()
    collect(store)
    FeatureEngineeringJob.run(spark, store)
    val again = FeatureEngineeringJob.run(spark, store)
    assert(again.count() == 24)
  }
}
