package graft.io

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Change-feed laws ([[Store.changeFeed]] — the Delta CDF role over COW
  * epochs): appends emit inserts, COW updates emit pre/post pairs, COW
  * deletes emit deletes, pure layout passes (OPTIMIZE) emit NOTHING, and
  * replaying the feed from any epoch reproduces the target epoch exactly.
  */
class ChangeFeedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def mk(lo: Long, hi: Long) = spark.range(lo, hi)
    .select(col("id").as("k"), (col("id") % 13).cast("double").as("v"))

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("curve store: insert/update_pre+post/delete per epoch; OPTIMIZE is " +
    "silent; replaying the feed reproduces the target epoch") {
    val base = Files.createTempDirectory("graft_cf1").toString
    val store = new Store(spark, base)
    store.writeZordered(mk(0, 1000), "tbl", Seq("k", "v"), files = 4)   // e0
    store.appendZordered(mk(1000, 1100), "tbl", Seq("k", "v"), files = 1) // e1
    store.updateWhere("tbl", col("k") < 10, Map("v" -> lit(99.0)))      // e2
    store.deleteWhere("tbl", col("k") >= 1090)                          // e3
    store.scopedRecluster("tbl")                                        // e4

    val feed = store.changeFeed("tbl", Seq("k"), sinceEpoch = -1)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("k", "v", "_change_type", "_commit_epoch", "_commit_ts"))
    val byEpoch = feed.groupBy("_commit_epoch", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byEpoch((0L, "insert")) == 1000)
    assert(byEpoch((1L, "insert")) == 100)
    assert(byEpoch((2L, "update_preimage")) == 10)
    assert(byEpoch((2L, "update_postimage")) == 10)
    assert(byEpoch((3L, "delete")) == 10)
    assert(!byEpoch.keys.exists(_._1 == 4L),
      s"OPTIMIZE must be change-feed silent, got ${byEpoch.filter(_._1._1 == 4L)}")
    // pre/post content: pre carries the old v, post the new
    val e2 = store.changeFeed("tbl", Seq("k"), 1, Some(2L))
    assert(e2.where(col("_change_type") === "update_postimage" && col("v") =!= 99.0)
      .count() == 0)
    assert(e2.where(col("_change_type") === "update_preimage" && col("v") === 99.0)
      .count() == 0)
    // _commit_ts matches the epoch history stamps
    val hist = store.versionHistory("tbl").map(v => v.epoch -> v.committedAtMs).toMap
    val tsOk = feed.select(col("_commit_epoch"), col("_commit_ts")).distinct()
      .collect().forall(r => r.getTimestamp(1).getTime == hist(r.getLong(0)))
    assert(tsOk)

    // REPLAY LAW: applying each epoch's changes in order to v0
    // reproduces v3 exactly (delete+pre keys drop, insert+post rows land)
    var state = store.readVersion("tbl", 0L).select("k", "v")
    for (e <- 1L to 3L) {
      val fe = store.changeFeed("tbl", Seq("k"), e - 1, Some(e))
      val delKeys = fe.where(col("_change_type").isin("delete", "update_preimage"))
        .select("k")
      val addRows = fe.where(col("_change_type").isin("insert", "update_postimage"))
        .select("k", "v")
      state = state.join(delKeys, Seq("k"), "left_anti").unionByName(addRows)
    }
    assert(rows(state) == rows(store.readVersion("tbl", 3L).select("k", "v")))
  }

  test("loud failure modes: duplicate key in a rewrite region, vacuumed epoch " +
    "in range, until beyond current, unknown key column") {
    val base = Files.createTempDirectory("graft_cf2").toString
    val store = new Store(spark, base)
    // duplicate keys (two rows per k) — appends are fine, a COW rewrite is not
    val dup = spark.range(200).select((col("id") % 100).as("k"),
      col("id").cast("double").as("v"))
    store.writeZordered(dup, "dup", Seq("k", "v"), files = 2)           // e0
    store.updateWhere("dup", col("k") === 5, Map("v" -> lit(0.0)))      // e1
    val eDup = intercept[Exception] {
      store.changeFeed("dup", Seq("k"), -1).count()
    }
    assert(eDup.getMessage.contains("not unique"), eDup.getMessage)
    // insert-only feeds never need the uniqueness (epoch 0 alone is fine)
    assert(store.changeFeed("dup", Seq("k"), -1, Some(0L)).count() == 200)

    store.writeZordered(mk(0, 100), "tbl", Seq("k", "v"), files = 2)    // e0
    store.appendZordered(mk(100, 110), "tbl", Seq("k", "v"), files = 1) // e1
    store.appendZordered(mk(110, 120), "tbl", Seq("k", "v"), files = 1) // e2
    store.vacuum("tbl", keepLast = 1)
    val eVac = intercept[Exception] {
      store.changeFeed("tbl", Seq("k"), 0).count()
    }
    assert(eVac.getMessage.contains("not readable"), eVac.getMessage)
    val eAhead = intercept[Exception] {
      store.changeFeed("tbl", Seq("k"), 0, Some(99L))
    }
    assert(eAhead.getMessage.contains("beyond"), eAhead.getMessage)
    val eKey = intercept[Exception] {
      store.changeFeed("tbl", Seq("nope"), -1)
    }
    assert(eKey.getMessage.contains("key column"), eKey.getMessage)
  }

  test("partitioned store + MERGE: the day's re-upsert emits exactly its " +
    "changed rows; the SQL view face serves the feed") {
    val base = Files.createTempDirectory("graft_cf3").toString
    val store = new Store(spark, base)
    val days = spark.range(300).select(col("id").as("k"),
      expr("timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,cast(id % 3 as int),0,0,0)").as("ts"),
      (col("id") % 7).cast("double").as("value"))
    store.writePartitionedManaged(days, "ptbl", tsCol = "ts")           // e0
    // re-upsert day 2 with half its rows changed and one new row
    val day2 = days.where(expr("cast(ts as date) = date'2024-03-02'"))
    val changed = day2.withColumn("value",
        when(col("k") % 2 === 0, col("value") + 100).otherwise(col("value")))
      .unionByName(spark.sql(
        "SELECT 9999 k, timestamp'2024-03-02 12:00:00' ts, 1.0 value"))
    store.upsertPartitionsManaged(changed, "ptbl", tsCol = "ts")        // e1
    val feed = store.changeFeed("ptbl", Seq("k"), 0)
    val n = feed.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedUpdates = day2.where(col("k") % 2 === 0).count()
    assert(n.getOrElse("update_preimage", 0L) == expectedUpdates, n.toString)
    assert(n.getOrElse("update_postimage", 0L) == expectedUpdates)
    assert(n.getOrElse("insert", 0L) == 1)
    assert(n.getOrElse("delete", 0L) == 0)
    // partition column rides along
    assert(feed.where(col("dt") =!= lit("2024-03-02").cast("date")).count() == 0)
    // SQL face
    store.changeFeed("ptbl", Seq("k"), 0).createOrReplaceTempView("ptbl_changes")
    assert(spark.sql(
      "SELECT COUNT(*) FROM ptbl_changes WHERE _change_type = 'insert'")
      .head.getLong(0) == 1)
  }
}
