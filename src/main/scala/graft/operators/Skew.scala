package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §4 / the 100 TB checklist).
  *
  * AQE's skew-join handling covers sort-merge joins at runtime, not
  * aggregations. [[saltedAggregate]] covers a groupBy whose key
  * distribution is so hot that even map-side combine leaves one reducer
  * with most of the data (e.g. counting events per type when one type is
  * 90% of traffic). Two phases: aggregate on (key, salt) — spreading each
  * hot key over `salts` reducers — then re-aggregate on key. Works for any
  * algebraic aggregate (sum/count/min/max; avg = sum+count).
  *
  * Salting uses a HASH of the row's own columns, not rand(): deterministic,
  * retry-safe, and identically distributed.
  */
object Skew {

  private def salt(salts: Int, cols: Seq[Column]): Column =
    pmod(xxhash64(cols: _*), lit(salts)).cast("int")

  /** Two-phase skew-safe aggregation: per-(key,salt) partial sums/counts,
    * then per-key final combine. `aggs` maps output column name ->
    * (phase-1 aggregate of an input column, phase-2 combiner of the
    * phase-1 column).
    */
  def saltedAggregate(df: DataFrame, keys: Seq[String], salts: Int,
                      saltBy: Seq[String],
                      aggs: Map[String, (Column, String => Column)]): DataFrame = {
    val salted = df.withColumn("__salt", salt(salts, saltBy.map(col)))
    val phase1 = salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(aggs.head._2._1.as(s"__p_${aggs.head._1}"),
        aggs.tail.map { case (n, (a, _)) => a.as(s"__p_$n") }.toSeq: _*)
    phase1.groupBy(keys.map(col): _*)
      .agg(aggs.head._2._2(s"__p_${aggs.head._1}").as(aggs.head._1),
        aggs.tail.map { case (n, (_, c)) => c(s"__p_$n").as(n) }.toSeq: _*)
  }

  /** Skew-safe count per key (the common case, pre-wired). */
  def saltedCount(df: DataFrame, keys: Seq[String], salts: Int = 16,
                  saltBy: Seq[String] = Seq.empty): DataFrame = {
    val by = if (saltBy.nonEmpty) saltBy else df.columns.toSeq
    saltedAggregate(df, keys, salts, by,
      Map("n" -> (count(lit(1)), (c: String) => sum(col(c)))))
  }
}
