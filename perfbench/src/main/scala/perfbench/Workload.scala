package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one op reports besides its wall time: the failed checks and
  * per-op layer counters.
  */
final case class Outcome(errors: Seq[String], counters: Map[String, Double] = Map.empty)

/** A workload drives the program through its public entry points only.
  * Inputs come from the seed; the program sees only the generated data.
  */
trait Workload {
  /** Generate the inputs and seed the store's history (timed as set-up). */
  def setup(): Unit

  /** Generate op `i`'s inputs (outside the timed window). */
  def prepare(i: Int): Unit = ()

  /** Run op `i` and check its outputs. */
  def op(i: Int): Outcome

  /** The rows ops `ops` submitted, for serializing once in the table's
    * format (outside the timed window): the denominator of write_amp.
    */
  def submitted(ops: Seq[Int]): DataFrame

  /** Format `submitted` is written in. */
  def format: String

  /** The directory everything the program stores lives under. */
  def storeDir: String

  /** Checks over the whole run, after the last op: the failed checks by
    * the op they concern, under -1 those that concern the run as a whole.
    */
  def finalCheck(): Map[Int, Seq[String]] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("daily_etl", "curate_batches")

  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
            tr: Tracer, expected: String, recorded: String): Workload = name match {
    case "daily_etl" => new DailyEtl(spark, dir, seed, tr)
    case "curate_batches" => new CurateBatches(spark, dir, seed, tr,
      CurateBatches.loadExpected(new java.io.File(expected)), recorded)
  }

  /** `body` and its wall seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
