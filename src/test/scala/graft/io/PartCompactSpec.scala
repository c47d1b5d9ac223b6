package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Per-partition small-file compaction on managed partitioned stores
  * ([[Store.compactPartitionsManaged]]): only fragmented partitions
  * rewrite (retire-backed epoch), healthy partitions keep byte/mtime
  * identity, reads are unchanged, prior epochs stay readable, the change
  * feed is silent, a nothing-to-do pass burns no epoch, and the
  * `CALL maintain` routing serves the partitioned layout.
  */
class PartCompactSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mkDays(nDays: Int, rowsPerDay: Int, spread: Int,
                     firstDay: String = "2024-06-01") =
    spark.range(nDays.toLong * rowsPerDay).select(
      col("id").as("k"),
      expr(s"timestamp'$firstDay 00:00:00' + make_interval(0,0,0,cast(id % $nDays as int),0,0,0)").as("ts"),
      (col("id") % 5).cast("double").as("value"))
      .repartition(spread) // every task carries every day -> spread files/day

  private def dayFiles(base: String, rel: String): Map[String, Set[(String, Long, Long)]] = {
    val root = new java.io.File(s"$base/$rel")
    root.listFiles().filter(d => d.isDirectory && d.getName.startsWith("dt="))
      .map(d => d.getName -> d.listFiles()
        .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet)
      .toMap
  }

  test("only fragmented partitions rewrite; healthy ones keep byte/mtime " +
    "identity; rows unchanged; prior epoch readable; change feed silent") {
    val base = Files.createTempDirectory("graft_pcc1").toString
    val store = new Store(spark, base)
    // epoch 0: 3 fragmented days, 6 files each
    store.writePartitionedManaged(mkDays(3, 200, 6), "ptbl", tsCol = "ts")
    // epoch 1: one HEALTHY single-file day that must never move
    store.upsertPartitionsManaged(
      mkDays(1, 100, 1, firstDay = "2024-06-09"), "ptbl", tsCol = "ts")
    val before = dayFiles(base, "ptbl")
    assert(before("dt=2024-06-01").size == 6 && before("dt=2024-06-09").size == 1,
      before.view.mapValues(_.size).toMap.toString)
    val rowsBefore = store.readSnapshot("ptbl").collect().map(_.toString).sorted.toSeq

    val st = store.compactPartitionsManaged("ptbl")               // epoch 2
    assert(st.partitionsCompacted == 3 && st.filesIn == 18, st.toString)
    val after = dayFiles(base, "ptbl")
    assert(after("dt=2024-06-01").size == 1 && after("dt=2024-06-02").size == 1 &&
      after("dt=2024-06-03").size == 1,
      after.view.mapValues(_.size).toMap.toString)
    assert(after("dt=2024-06-09") == before("dt=2024-06-09"),
      "the healthy partition must keep name/bytes/mtime")
    assert(store.readSnapshot("ptbl").collect().map(_.toString).sorted.toSeq ==
      rowsBefore, "compaction must not change a single row")
    // prior epochs stay readable (retire-backed), and the compaction epoch
    // is change-feed SILENT (content-identical pairs)
    assert(store.readVersion("ptbl", 1L).count() == 700)
    assert(store.changeFeed("ptbl", Seq("k"), 1, Some(2L)).count() == 0,
      "a pure layout pass must emit no change rows")

    // nothing fragmented now: a second pass measures, commits NOTHING,
    // burns no epoch, leaves no claim
    val st2 = store.compactPartitionsManaged("ptbl")
    assert(st2.partitionsCompacted == 0)
    assert(store.listVersions("ptbl").max == 2L, "a no-op pass must not burn an epoch")
    store.upsertPartitionsManaged(
      mkDays(1, 50, 1, firstDay = "2024-06-10"), "ptbl", tsCol = "ts") // not wedged
  }

  test("CALL maintain routes partitioned stores to the per-partition " +
    "compaction; curve stores keep the erosion path; refusals stay loud") {
    val base = Files.createTempDirectory("graft_pcc2").toString
    val store = new Store(spark, base)
    store.writePartitionedManaged(mkDays(2, 300, 5), "ptbl", tsCol = "ts")
    spark.conf.set("spark.sql.catalog.graft_pcc2", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_pcc2.base", base)
    val r = spark.sql(
      "CALL graft_pcc2.maintain('ptbl', 1.5, 2, 1000.0, 1)").head
    assert(r.getBoolean(0), "the file-count trigger (5 > 2) must fire")
    assert(r.getInt(1) == 10, s"filesIn should be 10, got ${r.getInt(1)}")
    val counts = dayFiles(base, "ptbl").view.mapValues(_.size).toMap
    assert(counts.values.forall(_ == 1), counts.toString)
    // second CALL: healthy — no rewrite
    val r2 = spark.sql(
      "CALL graft_pcc2.maintain('ptbl', 1.5, 2, 1000.0, 1)").head
    assert(!r2.getBoolean(0))
    // a curve store refuses the partitioned entry point
    store.writeZordered(
      spark.range(500).select(col("id").as("k"), (col("id") % 7).as("v")),
      "ztbl", Seq("k", "v"), files = 2)
    val e = intercept[Exception] { store.compactPartitionsManaged("ztbl") }
    assert(e.getMessage.contains("curve"), e.getMessage)
  }
}
