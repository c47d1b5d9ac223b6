package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Manifest epochs on the MANAGED PARTITIONED stores
  * ([[Store.writePartitionedManaged]] / [[Store.upsertPartitionsManaged]]):
  * the dt-shaped daily-ingest layout gets the same epoch/CAS/retire/
  * time-travel laws as the curve stores — retires nest INSIDE their own
  * partition dir so version reads reconstruct the partition column, the
  * upsert touches only its batch's partitions, the CAS serializes
  * concurrent mutators, and vacuum is the only physical delete.
  */
class PartitionedManifestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Root-relative (name, len, mtime) for every visible data file. */
  private def deepTriples(dir: String) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    def walk(p: org.apache.hadoop.fs.Path, prefix: String): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (!visible(n)) Nil
        else if (st.isFile) Seq((prefix + n, st.getLen, st.getModificationTime))
        else walk(st.getPath, s"$prefix$n/")
      }
    walk(root, "").toSet
  }

  private def mkEvents(n: Int) =
    spark.range(n).select(
      to_timestamp(concat(lit("2024-07-0"), (col("id") % 5 + 1), lit(" 10:00:00")))
        .as("datetime"),
      col("id").as("k"),
      (col("id") % 100).cast("double").as("v"))

  test("partitioned epoch law: replace/upsert/COW-delete each commit an epoch; " +
    "every epoch reads back exactly, partition column included; upsert " +
    "touches only its batch's partitions; retires nest in-partition") {
    val base = Files.createTempDirectory("graft_pm_law").toString
    val store = new Store(spark, base)
    val df = mkEvents(5000)
    store.writePartitionedManaged(df, "tbl")                       // epoch 0
    val snap = scala.collection.mutable.Map[Long, Seq[String]]()
    snap(0L) = rows(spark.read.parquet(s"$base/tbl"))
    // the read-back carries dt and five partition dirs
    assert(spark.read.parquet(s"$base/tbl").columns.contains("dt"))
    assert(deepTriples(s"$base/tbl").forall(_._1.startsWith("dt=")))

    // daily upsert: day 3 replaced with bumped values — ONLY dt=2024-07-03
    // files move, every other partition byte/mtime-identical
    val before = deepTriples(s"$base/tbl")
    val day = df.where(to_date(col("datetime")) === lit("2024-07-03").cast("date"))
    store.upsertPartitionsManaged(day.withColumn("v", col("v") + 1000), "tbl") // epoch 1
    val after = deepTriples(s"$base/tbl")
    assert(before.filterNot(_._1.startsWith("dt=2024-07-03/")) ==
      after.filterNot(_._1.startsWith("dt=2024-07-03/")),
      "upsert must not touch other partitions")
    assert(after.filter(_._1.startsWith("dt=2024-07-03/")) !=
      before.filter(_._1.startsWith("dt=2024-07-03/")))
    snap(1L) = rows(spark.read.parquet(s"$base/tbl"))
    assert(snap(1L) != snap(0L))

    // COW delete with a dt predicate: the locate scan partition-prunes
    val locate = spark.read.parquet(s"$base/tbl")
      .where(col("dt") === lit("2024-07-02").cast("date") && col("v") < 50)
      .select(input_file_name())
    val plan = locate.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("dt"), plan)
    store.deleteWhere("tbl",
      col("dt") === lit("2024-07-02").cast("date") && col("v") < 50)  // epoch 2
    snap(2L) = rows(spark.read.parquet(s"$base/tbl"))

    assert(store.listVersions("tbl") == Seq(0L, 1L, 2L))
    (0L to 2L).foreach { e =>
      assert(rows(store.readVersion("tbl", e)) == snap(e), s"epoch $e drifted")
      // the partition column reconstructs on every epoch (live AND retired)
      assert(store.readVersion("tbl", e).columns.contains("dt"))
    }
    assert(rows(store.readSnapshot("tbl")) == snap(2L))

    // retired files live INSIDE their partition dir, invisible to scans
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nested = fs.listStatus(dir).filter(_.isDirectory)
      .map(st => new org.apache.hadoop.fs.Path(st.getPath, ".graft_retired"))
      .filter(fs.exists(_))
    assert(nested.nonEmpty, "retires must nest inside their partition dirs")
    assert(!fs.exists(LayoutManifest.retiredDir(dir)) ||
      fs.listStatus(LayoutManifest.retiredDir(dir)).isEmpty,
      "partitioned retires must not land in the root retired dir")

    // a dt filter on a VERSION read touches only that partition's files
    val touched = store.readVersion("tbl", 0L)
      .where(col("dt") === lit("2024-07-03").cast("date"))
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSeq
    assert(touched.nonEmpty && touched.forall(_.contains("dt=2024-07-03")),
      s"version-read partition pruning leaked: $touched")

    // vacuum to the current epoch: dropped epochs turn loud, retired
    // bytes reclaim, nested retired dirs clean up
    val pre = store.retentionStats("tbl")
    assert(pre.retiredBytes > 0L && pre.epochs == 3)
    val vs = store.vacuum("tbl", keepLast = 1)
    assert(vs.removedFiles > 0 && vs.reclaimedBytes > 0L)
    intercept[IllegalStateException] { store.readVersion("tbl", 0L) }
    assert(rows(store.readSnapshot("tbl")) == snap(2L))
    assert(store.retentionStats("tbl").retiredBytes == 0L)
  }

  test("4-thread CAS race on the partitioned upsert: exactly one winner per " +
    "epoch transition, losers loud, table never corrupted") {
    val base = Files.createTempDirectory("graft_pm_cas").toString
    val store = new Store(spark, base)
    val df = mkEvents(2000)
    store.writePartitionedManaged(df, "tbl")                       // epoch 0
    val day = df.where(to_date(col("datetime")) === lit("2024-07-04").cast("date"))
    val winners = new java.util.concurrent.atomic.AtomicInteger(0)
    val losers = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        gate.await()
        try {
          // each contender writes a distinguishable batch for the same day
          new Store(spark, base).upsertPartitionsManaged(
            day.withColumn("v", col("v") + i * 10000), "tbl")
          winners.incrementAndGet()
        } catch {
          case _: java.util.ConcurrentModificationException => losers.incrementAndGet()
        }
        ()
      })
    }
    threads.foreach(_.start()); gate.countDown(); threads.foreach(_.join())
    assert(winners.get() >= 1, "at least one contender must commit")
    assert(winners.get() + losers.get() == 4)
    // epoch count advanced exactly once per winner; content is exactly ONE
    // winner's batch for the day (no interleaved rows)
    val m = LayoutManifest.read(
      new org.apache.hadoop.fs.Path(s"$base/tbl")
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$base/tbl")).get
    assert(m.epoch == winners.get().toLong)
    val got = spark.read.parquet(s"$base/tbl")
      .where(col("dt") === lit("2024-07-04").cast("date"))
      .select((col("v") / 10000).cast("int").as("bump")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(got.size == 1 && got.head >= 1 && got.head <= 4,
      s"day must hold exactly one winner's batch, got bumps $got")
    assert(spark.read.parquet(s"$base/tbl").count() == 2000)
  }

  test("an interrupted partitioned commit replays to completion: retires with " +
    "partition dirs land nested, prior epochs stay exactly readable") {
    val base = Files.createTempDirectory("graft_pm_crash").toString
    val store = new Store(spark, base)
    store.writePartitionedManaged(mkEvents(1000), "tbl")           // epoch 0
    val epoch0 = rows(spark.read.parquet(s"$base/tbl"))
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate a crash mid-commit: one partitioned file staged under the
    // SAME partition dir + journal written with a RETIRE of the original
    val m = LayoutManifest.read(fs, dir).get
    val victim = m.base.head // dt=…/part-w0-…
    val vdir = victim.substring(0, victim.lastIndexOf('/'))
    val tmp = ScopedCommit.newStageDir(dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(tmp, vdir))
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, victim), fs,
      new org.apache.hadoop.fs.Path(tmp, victim), false,
      spark.sparkContext.hadoopConfiguration))
    val vbase = victim.substring(victim.lastIndexOf('/') + 1)
    val promoted = s"$vdir/part-p9-${vbase.stripPrefix("part-")}"
    ScopedCommit.write(fs, dir, renames = Seq(victim -> promoted),
      deletes = Nil, retires = Seq(victim),
      manifest = Some(m.copy(epoch = 9L,
        base = (m.base.filterNot(_ == victim) :+ promoted).sorted)), stage = tmp)
    // any entry recovers the journal; both epochs then read exactly
    assert(rows(store.readVersion("tbl", 0L)) == epoch0)
    assert(ScopedCommit.markers(fs, dir).isEmpty)
    assert(fs.exists(LayoutManifest.retiredPath(dir, victim)),
      "the replayed retire must land in the partition's nested retired dir")
    assert(rows(store.readVersion("tbl", 9L)) == epoch0)
    assert(rows(spark.read.parquet(s"$base/tbl")) == epoch0)
  }

  test("guards: curve ops refuse partitioned manifests and vice versa; " +
    "adopting a foreign layout keeps the right shapes") {
    val base = Files.createTempDirectory("graft_pm_guard").toString
    val store = new Store(spark, base)
    val df = mkEvents(500)
    store.writePartitionedManaged(df, "ptbl")
    intercept[IllegalArgumentException] { store.scopedRecluster("ptbl") }
    intercept[IllegalArgumentException] { store.erosionStats("ptbl") }
    intercept[IllegalArgumentException] {
      store.maintainZordered("ptbl", maxTouchedPerProbe = 1.0)
    }
    intercept[IllegalArgumentException] {
      store.appendZordered(df.select(col("k"), col("v")), "ptbl", Seq("k", "v"))
    }
    // curve table refuses the partition upsert
    store.writeZordered(df.select(col("k"), col("v")), "ztbl", Seq("k", "v"), files = 2)
    intercept[IllegalArgumentException] {
      store.upsertPartitionsManaged(df, "ztbl")
    }
    // a flat manifest-less table refuses adoption by the partition upsert
    df.select(col("k"), col("v")).write.mode("overwrite").parquet(s"$base/flat")
    intercept[IllegalArgumentException] { store.upsertPartitionsManaged(df, "flat") }
    // …but a foreign writePartitioned table ADOPTS: manifest appears at
    // epoch 0, replaced files deleted (no pre-adoption history to serve)
    store.writePartitioned(df, "foreign")
    val day = df.where(to_date(col("datetime")) === lit("2024-07-01").cast("date"))
    store.upsertPartitionsManaged(day.withColumn("v", col("v") + 5), "foreign")
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fm = LayoutManifest.read(fs,
      new org.apache.hadoop.fs.Path(s"$base/foreign")).get
    assert(fm.epoch == 0L && fm.isPartitioned)
    assert(store.listVersions("foreign") == Seq(0L))
    val want = df.select(col("k"),
      when(to_date(col("datetime")) === lit("2024-07-01").cast("date"),
        col("v") + 5).otherwise(col("v")).as("v"))
      .collect().map(_.toString).sorted.toSeq
    assert(spark.read.parquet(s"$base/foreign").select("k", "v")
      .collect().map(_.toString).sorted.toSeq == want)
  }

  test("reshape: writeZordered over a managed partitioned store retires the " +
    "partitioned epoch; time travel reads it back with dt intact") {
    val base = Files.createTempDirectory("graft_pm_reshape").toString
    val store = new Store(spark, base)
    val df = mkEvents(1500)
    store.writePartitionedManaged(df, "tbl")                       // epoch 0
    val epoch0 = rows(spark.read.parquet(s"$base/tbl"))
    store.writeZordered(
      spark.read.parquet(s"$base/tbl"), "tbl", Seq("k", "v"), files = 2) // epoch 1
    // the live table is the flat curve layout now (dt became a data column)
    val live = spark.read.parquet(s"$base/tbl")
    assert(live.columns.contains("dt") && rows(live) == epoch0)
    // epoch 0 still reads as the PARTITIONED table, dt reconstructed from
    // the nested retired dirs
    val v0 = store.readVersion("tbl", 0L)
    assert(v0.columns.contains("dt"))
    assert(rows(v0) == epoch0)
    assert(store.listVersions("tbl") == Seq(0L, 1L))
  }

  test("empty batches: a managed replace of zero rows promotes a schema " +
    "carrier; an empty partition upsert is a committed no-op, never a " +
    "zero-file manifest") {
    val base = Files.createTempDirectory("graft_pm_empty").toString
    val store = new Store(spark, base)
    val df = mkEvents(200)
    // empty REPLACE on a fresh table: partitionBy stages zero files, so
    // without the carrier the manifest would list none and every manifest
    // read would throw
    store.writePartitionedManaged(df.where(lit(false)), "fresh")
    assert(store.readSnapshot("fresh").count() == 0)
    assert(spark.read.parquet(s"$base/fresh").count() == 0)
    // empty UPSERT on a live table: commits nothing, bumps nothing,
    // releases its claim (the next mutator works), table unchanged
    store.writePartitionedManaged(df, "tbl")                      // epoch 0
    store.upsertPartitionsManaged(df.where(lit(false)), "tbl")    // no-op
    assert(store.listVersions("tbl") == Seq(0L))
    assert(store.readSnapshot("tbl").count() == 200)
    val day = df.where(to_date(col("datetime")) === lit("2024-07-01").cast("date"))
    store.upsertPartitionsManaged(day, "tbl")                     // epoch 1
    assert(store.listVersions("tbl") == Seq(0L, 1L))
    assert(store.readSnapshot("tbl").count() == 200)
  }

  test("a full-table COW delete on the MANAGED partitioned store keeps it " +
    "readable and time-travelable") {
    val base = Files.createTempDirectory("graft_pm_wipe").toString
    val store = new Store(spark, base)
    val df = mkEvents(400)
    store.writePartitionedManaged(df, "tbl")                       // epoch 0
    val stats = store.deleteWhere("tbl", col("k") >= 0)            // epoch 1
    assert(stats.rowsDeleted == 400)
    val back = spark.read.parquet(s"$base/tbl")
    assert(back.count() == 0, "emptied table must stay readable")
    assert(back.columns.contains("dt"))
    // and the pre-wipe epoch still reads in full
    assert(store.readVersion("tbl", 0L).count() == 400)
    assert(rows(store.readSnapshot("tbl")).isEmpty)
  }

  test("MERGE on the managed partitioned store counts every touched file's " +
    "rows when basenames repeat across dt= dirs") {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import spark.implicits._
    def s(c: String) = GraftBridge.toColumn(UnresolvedAttribute(Seq("__s", c)))
    def t(c: String) = GraftBridge.toColumn(UnresolvedAttribute(Seq("__t", c)))
    val base = Files.createTempDirectory("graft_pm_merge_names").toString
    val store = new Store(spark, base)
    // ONE writing task lays down one file per day, under the same basename
    store.writePartitionedManaged(mkEvents(100).coalesce(1), "tbl")  // epoch 0
    val names = deepTriples(s"$base/tbl").map(_._1)
    assert(names.size == 5 && names.map(n => n.substring(n.lastIndexOf('/') + 1)).size == 1,
      names)
    // k=1 lives on day 2, k=2 on day 3: two touched files; k=1000 is new
    val src = Seq((1L, 11.0), (2L, 22.0), (1000L, 5.0)).toDF("mk", "mv")
      .withColumn("sdt", lit("2024-07-09").cast("date"))
    val stats = store.mergeInto("tbl", src, t("k") === s("mk"),           // epoch 1
      matched = Seq(Store.MergeUpdate(Map("v" -> s("mv")))),
      insert = Some((Map("datetime" -> s("sdt").cast("timestamp"), "k" -> s("mk"),
        "v" -> s("mv"), "dt" -> s("sdt")), None)))
    assert(stats.filesTouched == 2 && stats.rowsUpdated == 2, stats)
    assert(stats.rowsInserted == 1L, stats)
    assert(store.readSnapshot("tbl").count() == 101)
  }

  test("partition-day assignment is pinned to the UTC calendar, not the session timezone") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_pm_tz").toString
    val store = new Store(spark, base)
    def dayDirs(rel: String) = {
      val dir = new org.apache.hadoop.fs.Path(s"$base/$rel")
      dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
        .map(_.getPath.getName).filter(_.startsWith("dt=")).toSet
    }
    // 2024-01-01T23:30Z — a near-midnight instant whose LOCAL date under a
    // +14 session zone is already 2024-01-02
    val nearMidnight = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T23:30:00Z"))
    def batch(v: String) = Seq((nearMidnight, v)).toDF("datetime", "v")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
      store.writePartitioned(batch("a1"), "plain")
      store.writePartitionedManaged(batch("a1"), "replaced")
      store.upsertPartitionsManaged(batch("a1"), "tbl")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // a replay under a DIFFERENT session zone maps the same key to the
    // same partition and replaces it: no stale twin in another day
    store.upsertPartitionsManaged(batch("a2"), "tbl")
    val out = store.readSnapshot("tbl").select("datetime", "v").as[(java.sql.Timestamp, String)]
      .collect().toSeq
    assert(out == Seq(nearMidnight -> "a2"), s"stale twin survived: $out")
    Seq("plain", "replaced", "tbl").foreach { rel =>
      assert(dayDirs(rel) == Set("dt=2024-01-01"), s"$rel stored its key under the session-local day")
    }
  }
}
