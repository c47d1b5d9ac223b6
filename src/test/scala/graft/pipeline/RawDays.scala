package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Synthetic collected raw rows (`Schemas.raw`) for chosen days and
  * hours: two-decimal values from a seeded generator, about one value in
  * ten null. Stands in for a day's merged collection where a test needs
  * control over which hours exist.
  */
object RawDays {
  def rows(spark: SparkSession, days: Seq[LocalDate], hours: Seq[Int] = 0 until 24,
           seed: Long = 1L): DataFrame = {
    val rng = new scala.util.Random(seed)
    val data = for (d <- days; h <- hours) yield {
      val ts = java.sql.Timestamp.from(d.atStartOfDay(java.time.ZoneOffset.UTC).plusHours(h).toInstant)
      Row.fromSeq(ts +: Schemas.raw.fields.toSeq.drop(1).map { f =>
        if (rng.nextInt(10) == 0) null
        else if (f.dataType == StringType) Seq("low", "moderate", "high")(rng.nextInt(3))
        else {
          require(f.dataType == DoubleType)
          math.round(rng.nextDouble() * 10000) / 100.0
        }
      })
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), Schemas.raw)
  }
}
