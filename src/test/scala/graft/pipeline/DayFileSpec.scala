package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.Store
import graft.jobs.{CollectJob, FeatureEngineeringJob}
import graft.operators.Upsert
import graft.sources.FixtureApiClient

/** The day-file CSV histories: what the daily ops leave on disk (the
  * concatenation law against the single-file writer), what EP2's
  * candidate-day delta computes (against the full anti-join), and what a
  * crash between a day swap's two renames leaves for the next op.
  */
class DayFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val d0: LocalDate = LocalDate.parse("2024-03-10")

  private def freshDir(): String = Files.createTempDirectory("graft_days").toString

  private def dayFiles(dir: String, rel: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir, rel))
    try s.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => Store.DayFile.parse(p.getFileName.toString).isDefined)
      .sortBy(_.getFileName.toString)
    finally s.close()
  }

  private def entries(dir: String, rel: String): Seq[String] = {
    val s = Files.list(Paths.get(dir, rel))
    try s.toArray.toSeq.map(_.asInstanceOf[Path].getFileName.toString) finally s.close()
  }

  /** The single-file writer the day files replaced: the whole history as
    * one sorted, headered CSV file.
    */
  private def singleFile(df: DataFrame): Array[Byte] = {
    val out = Files.createTempDirectory("graft_single").resolve("out")
    df.repartition(1).sortWithinPartitions(col("datetime"))
      .write.option("header", "true").csv(out.toString)
    val s = Files.list(out)
    try Files.readAllBytes(s.toArray.toSeq.map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.startsWith("part-")).get)
    finally s.close()
  }

  /** The header plus every day file's body, in name order. */
  private def concatenated(files: Seq[Path]): Array[Byte] = {
    val texts = files.map(Files.readAllBytes)
    val header = texts.head.take(texts.head.indexOf('\n'.toByte) + 1)
    texts.foreach(t => assert(t.startsWith(header), "a day file without the header"))
    header ++ texts.flatMap(_.drop(header.length))
  }

  test("day files concatenate to the single-file export, across a re-collection that gains hours") {
    val dir = freshDir()
    val store = new Store(spark, dir)
    val (d1, d2, d3) = (d0, d0.plusDays(1), d0.plusDays(2))
    def upsert(d: LocalDate, hours: Seq[Int], seed: Long): Unit = {
      CollectJob.upsert(spark, store, RawDays.rows(spark, Seq(d), hours, seed), d)
      FeatureEngineeringJob.run(spark, store)
    }
    upsert(d1, 0 until 12, 1)                               // half a day
    upsert(d2, (0 until 24).filterNot(Set(3, 17)), 2)       // a day with missing hours
    upsert(d3, 0 until 24, 3)
    val firstT0 = store.readCsv(CollectJob.rawFile, Schemas.raw)
      .where(col("datetime") === lit(s"${d1}T00:00:00Z").cast("timestamp"))
      .select("temperature_C").head()
    upsert(d1, 0 until 24, 4)                               // re-collected whole

    for ((rel, schema) <- Seq(CollectJob.rawFile -> Schemas.raw,
                              FeatureEngineeringJob.engineeredFile -> Schemas.engineered)) {
      val files = dayFiles(dir, rel)
      assert(files.map(f => Store.DayFile.parse(f.getFileName.toString).get.day) ==
        Seq(d1, d2, d3).map(_.toString), rel)
      val table = store.readCsv(rel, schema)
      assert(table.count() == 70 && table.select("datetime").distinct().count() == 70, rel)
      assert(java.util.Arrays.equals(concatenated(files), singleFile(table)),
        s"$rel: the day files do not concatenate to the single-file export")
      assert(!entries(dir, rel).exists(n => n.startsWith(".old_") || n.startsWith("_")),
        entries(dir, rel))
    }
    // the engineered rows of the first collection's hours keep its values
    // (D2 keep-first) while the raw history holds the re-collected ones
    val engT0 = store.readCsv(FeatureEngineeringJob.engineeredFile, Schemas.engineered)
      .where(col("datetime") === lit(s"${d1}T00:00:00Z").cast("timestamp"))
      .select("temperature_C").head()
    assert(engT0 == firstT0)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, clue: String): Unit = {
    val g = got.orderBy("datetime").collect()
    val w = want.orderBy("datetime").collect()
    assert(g.length == w.length, s"$clue: ${g.length} rows, oracle ${w.length}")
    g.zip(w).foreach { case (a, b) =>
      (0 until a.length).foreach { i =>
        val same = (a.get(i), b.get(i)) match {
          // the fit's sums may run in another order over other file splits
          case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
          case (x, y) => x == y
        }
        assert(same, s"$clue: row ${a.get(0)}, column ${got.columns(i)}: ${a.get(i)} vs oracle ${b.get(i)}")
      }
    }
  }

  test("randomized: the candidate-day delta and the engineered table equal the full anti-join") {
    val days = (0 until 4).map(d0.plusDays(_))
    for (seed <- Seq(7L, 11L)) {
      val rng = new scala.util.Random(seed)
      val store = new Store(spark, freshDir())
      def materialized(df: DataFrame): DataFrame =
        spark.createDataFrame(spark.sparkContext.parallelize(df.collect().toSeq, 2), Schemas.engineered)
      var oracle = materialized(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], Schemas.engineered))
      for (step <- 0 until 6) {
        val day = days(rng.nextInt(days.size))
        val hours = rng.shuffle((0 until 24).toList).take(4 + rng.nextInt(21)).sorted
        CollectJob.upsert(spark, store, RawDays.rows(spark, Seq(day), hours, seed * 100 + step), day)
        if (step == 5 || rng.nextBoolean()) {
          val clue = s"seed $seed step $step"
          val before = store.readCsvOrEmpty(FeatureEngineeringJob.engineeredFile, Schemas.engineered)
            .select("datetime").collect().toSet
          val got = FeatureEngineeringJob.run(spark, store)
          // the reference's run: anti-join against the whole history
          val delta = store.readCsv(CollectJob.rawFile, Schemas.raw)
            .join(oracle.select("datetime"), Seq("datetime"), "left_anti")
          val wantDelta = delta.select("datetime").collect().toSet
          if (wantDelta.nonEmpty)
            oracle = materialized(Upsert.keepFirst(oracle, FeatureEngineeringJob.engineer(delta),
              Seq("datetime")).transform(Schemas.project(_, Schemas.engineered)))
          assert(got.select("datetime").collect().toSet -- before == wantDelta, clue)
          assertSameRows(got, oracle, clue)
        }
      }
    }
  }

  test("a crash between a day swap's renames: the next EP1 and EP2 restore or drop the park") {
    val dir = freshDir()
    val store = new Store(spark, dir)
    def collect(d: LocalDate) =
      CollectJob.run(spark, new FixtureApiClient(Payloads.all(d)), d, store)
    val (d1, d2, d3) = (d0, d0.plusDays(1), d0.plusDays(2))
    collect(d1); collect(d2)
    FeatureEngineeringJob.run(spark, store)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getRaw
    def file(rel: String, d: LocalDate): String =
      dayFiles(dir, rel).map(_.getFileName.toString).find(_.startsWith(s"part-$d-")).get
    def park(rel: String, name: String, as: String): Unit =
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$rel/$name"),
        new org.apache.hadoop.fs.Path(s"$dir/$rel/$as")))
    val (raw, eng) = (CollectJob.rawFile, FeatureEngineeringJob.engineeredFile)
    val (raw1, eng2) = (file(raw, d1), file(eng, d2))
    // raw day 1 and engineered day 2 parked, their new files never landed
    park(raw, raw1, s".old_$raw1")
    park(eng, eng2, s".old_$eng2")
    // raw day 2: a stale park beside the live file, from a swap that
    // completed (an earlier version of the day under another write id)
    val stale = Store.DayFile(d2.toString, "0ld").name
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(s"$dir/$raw/${file(raw, d2)}"),
      new org.apache.hadoop.fs.Path(s"$dir/$raw/.old_$stale"))

    collect(d3)
    val out = FeatureEngineeringJob.run(spark, store)
    for (rel <- Seq(raw, eng)) {
      assert(dayFiles(dir, rel).size == 3, entries(dir, rel))
      assert(!entries(dir, rel).exists(_.startsWith(".old_")), entries(dir, rel))
    }
    // restored under their own names: engineered day 2 still carries raw
    // day 2's id, so EP2 engineered only day 3
    assert(file(raw, d1) == raw1 && file(eng, d2) == eng2)
    val rawAll = store.readCsv(raw, Schemas.raw)
    assert(rawAll.count() == 72 && rawAll.select("datetime").distinct().count() == 72)
    assert(out.count() == 72 && out.select("datetime").distinct().count() == 72)
  }

  test("a history in the single-file layout fails loudly") {
    val dir = freshDir()
    RawDays.rows(spark, Seq(d0)).repartition(1)
      .write.option("header", "true").csv(s"$dir/${CollectJob.rawFile}")
    val store = new Store(spark, dir)
    val e = intercept[IllegalStateException](
      CollectJob.run(spark, new FixtureApiClient(Payloads.all(d0)), d0, store))
    assert(e.getMessage.contains("not a day file"), e.getMessage)
    intercept[IllegalStateException](FeatureEngineeringJob.run(spark, store))
  }
}
