package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Snapshot retention / time travel laws over the layout stores: every
  * mutator commits a new manifest epoch, retires (never deletes) replaced
  * files, and [[Store.readVersion]] reproduces any un-vacuumed epoch
  * EXACTLY; [[Store.vacuum]] is the only physical delete, with a
  * crash-ordering contract (snapshots drop before data, re-runs converge).
  */
class TimeTravelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("every layout mutator preserves prior epochs exactly until vacuum") {
    val base = Files.createTempDirectory("graft_tt").toString
    val store = new Store(spark, base)
    val df = spark.range(4000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(4000)).as("v"))

    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4) // epoch 0
    val snap = scala.collection.mutable.Map[Long, Seq[String]]()
    snap(0L) = rows(spark.read.parquet(s"$base/tbl"))

    store.appendZordered(
      spark.range(4000, 4400).select(col("id").as("k"), (col("id") % 100).as("v")),
      "tbl", Seq("k", "v"), files = 2)                       // epoch 1
    snap(1L) = rows(spark.read.parquet(s"$base/tbl"))

    store.scopedRecluster("tbl")                             // epoch 2
    snap(2L) = rows(spark.read.parquet(s"$base/tbl"))
    assert(snap(2L) == snap(1L), "scoped recluster must not change rows")

    store.deleteWhere("tbl", col("k") >= 3800 && col("k") < 4200) // epoch 3
    snap(3L) = rows(spark.read.parquet(s"$base/tbl"))
    assert(snap(3L) != snap(2L))

    store.updateWhere("tbl", col("k") < 10, Map("v" -> (col("v") + 1000000L))) // epoch 4
    snap(4L) = rows(spark.read.parquet(s"$base/tbl"))

    store.recluster("tbl", Seq("k", "v"), files = 2)         // epoch 5 (journaled)
    snap(5L) = rows(spark.read.parquet(s"$base/tbl"))
    assert(snap(5L) == snap(4L), "full recluster must not change rows")

    assert(store.listVersions("tbl") == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    // the law: every epoch reads back EXACTLY as the table stood then
    (0L to 5L).foreach { e =>
      assert(rows(store.readVersion("tbl", e)) == snap(e), s"epoch $e drifted")
    }
    // manifest-driven current read == the newest epoch == the live listing
    assert(rows(store.readSnapshot("tbl")) == snap(5L))
    // the journaled full recluster leaves no swap park and no journal
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/.old_tbl")))
    assert(!ScopedCommit.anyMarker(fs, new org.apache.hadoop.fs.Path(s"$base/tbl")))
  }

  test("vacuum drops old epochs loudly, keeps new ones exact, reclaims bytes, " +
    "re-runs converge (interrupted-vacuum law)") {
    val base = Files.createTempDirectory("graft_tt_vac").toString
    val store = new Store(spark, base)
    val df = spark.range(3000).select(col("id").as("k"),
      pmod(col("id") * 13, lit(3000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4)     // epoch 0
    store.deleteWhere("tbl", col("k") < 500)                     // epoch 1
    store.deleteWhere("tbl", col("k") >= 2500)                   // epoch 2
    val keepRows = rows(store.readVersion("tbl", 1L))
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = LayoutManifest.retiredDir(dir)
    assert(fs.exists(retired) && fs.listStatus(retired).nonEmpty,
      "COW deletes must retire, not delete")

    // interrupted-vacuum simulation: the crash contract is "history
    // snapshot deleted, data not yet" — manufacture exactly that state
    // for the epoch the vacuum below would drop, then run the vacuum
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      LayoutManifest.historyDir(dir), "v0"), false))
    intercept[IllegalStateException] { store.readVersion("tbl", 0L) } // loud, epoch-level

    val stats = store.vacuum("tbl", keepLast = 2)
    assert(stats.keptEpochs == Seq(1L, 2L) && stats.droppedEpochs.isEmpty,
      s"v0's snapshot was already gone (crash sim): $stats")
    assert(stats.removedFiles > 0 && stats.reclaimedBytes > 0L,
      s"the orphaned epoch-0 retirees must be reclaimed: $stats")
    // kept epochs still read exactly; dropped one fails loudly
    assert(rows(store.readVersion("tbl", 1L)) == keepRows)
    assert(rows(store.readSnapshot("tbl")) ==
      rows(spark.read.parquet(dir.toString)))
    val err = intercept[IllegalStateException] { store.readVersion("tbl", 0L) }
    assert(err.getMessage.contains("not readable"))
    // idempotent: a second vacuum finds nothing more
    val again = store.vacuum("tbl", keepLast = 2)
    assert(again.removedFiles == 0 && again.reclaimedBytes == 0L)
    // and keepLast=1 collapses history to the current epoch only
    val last = store.vacuum("tbl", keepLast = 1)
    assert(last.keptEpochs == Seq(2L) && last.droppedEpochs == Seq(1L))
    intercept[IllegalStateException] { store.readVersion("tbl", 1L) }
    assert(rows(store.readVersion("tbl", 2L)) ==
      rows(spark.read.parquet(dir.toString)))
  }

  test("an interrupted journaled commit leaves every prior epoch exactly readable") {
    val base = Files.createTempDirectory("graft_tt_crash").toString
    val store = new Store(spark, base)
    val df = spark.range(1000).select(col("id").as("k"), (col("id") * 7 % 1000).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)     // epoch 0
    val epoch0 = rows(spark.read.parquet(s"$base/tbl"))
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate a crash mid-commit: one file staged + journal written with
    // a RETIRE of the original (the new mutator shape), nothing replayed.
    // COPY into the stage — real staging writes NEW files from a read and
    // leaves every original in place until the journal's retire step.
    val victim = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted.head
    val tmp = ScopedCommit.newStageDir(dir)
    fs.mkdirs(tmp)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, victim), fs,
      new org.apache.hadoop.fs.Path(tmp, victim), false,
      spark.sparkContext.hadoopConfiguration))
    val m = LayoutManifest.read(fs, dir).get
    val promoted = s"part-s9-${victim.stripPrefix("part-")}"
    ScopedCommit.write(fs, dir, renames = Seq(victim -> promoted),
      deletes = Nil, retires = Seq(victim),
      manifest = Some(m.copy(epoch = 9L,
        base = (m.base.filterNot(_ == victim) :+ promoted).sorted, appends = Nil)),
      stage = tmp)
    // ANY entry (readVersion included) recovers the journal, then reads
    assert(rows(store.readVersion("tbl", 0L)) == epoch0,
      "epoch 0 must survive the interrupted commit byte-exactly")
    assert(!ScopedCommit.anyMarker(fs, dir))
    // the replay retired the victim rather than deleting it, so epoch 0
    // resolves it from the retired dir; epoch 9 is the recovered current
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      LayoutManifest.retiredDir(dir), victim)))
    assert(rows(store.readVersion("tbl", 9L)) == epoch0)
    assert(store.listVersions("tbl") == Seq(0L, 9L))
  }

  test("a journal replayed by a concurrent reader-driven recover is benign: " +
    "the committing writer replays from its own lines, marker-gone recover no-ops") {
    val base = Files.createTempDirectory("graft_tt_racerep").toString
    val store = new Store(spark, base)
    val df = spark.range(800).select(col("id").as("k"), (col("id") * 3 % 800).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)     // epoch 0
    val want = rows(spark.read.parquet(s"$base/tbl"))
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate the mid-commit state (same shape as the crash test above)
    val victim = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted.head
    val tmp = ScopedCommit.newStageDir(dir)
    fs.mkdirs(tmp)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, victim), fs,
      new org.apache.hadoop.fs.Path(tmp, victim), false,
      spark.sparkContext.hadoopConfiguration))
    val m = LayoutManifest.read(fs, dir).get
    val promoted = s"part-s7-${victim.stripPrefix("part-")}"
    val lines = ScopedCommit.write(fs, dir, renames = Seq(victim -> promoted),
      deletes = Nil, retires = Seq(victim),
      manifest = Some(m.copy(epoch = 7L,
        base = (m.base.filterNot(_ == victim) :+ promoted).sorted, appends = Nil)),
      stage = tmp)
    // a READER-driven recover (the per-statement DSv2 path) finishes the
    // commit and removes the marker first…
    assert(ScopedCommit.recover(fs, dir))
    // …then the committing WRITER replays from the lines it wrote — every
    // step must read as already-done, never as a failed mutation (the
    // mutation DID commit; surfacing an error here would drive an
    // app-level retry into double-applying it)
    ScopedCommit.replay(fs, dir, lines)
    // and a second reader that raced past its own exists-check finds
    // nothing left to do
    assert(!ScopedCommit.recover(fs, dir))
    assert(rows(spark.read.parquet(s"$base/tbl")) == want)
    assert(rows(store.readVersion("tbl", 7L)) == want)
    assert(rows(store.readVersion("tbl", 0L)) == want)
    assert(store.listVersions("tbl") == Seq(0L, 7L))

    // a STALE replayer waking after a SUCCESSOR epoch committed must not
    // roll the manifest back, must not delete the successor's journal,
    // and must not touch the successor's stage. Manufacture: successor
    // journal L2 (epoch 8) written and fully replayed; then the laggard
    // replays the OLD lines once more.
    val m7 = LayoutManifest.read(fs, dir).get
    val victim2 = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted.head
    // the successor stages in its OWN per-commit dir (the mutators'
    // mechanism): a laggard replay of the OLD journal must not reach it
    val tmp2 = ScopedCommit.newStageDir(dir)
    fs.mkdirs(tmp2)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, victim2), fs,
      new org.apache.hadoop.fs.Path(tmp2, victim2), false,
      spark.sparkContext.hadoopConfiguration))
    val promoted2 = s"part-s8-${victim2.stripPrefix("part-")}"
    val lines2 = ScopedCommit.write(fs, dir, renames = Seq(victim2 -> promoted2),
      deletes = Nil, retires = Seq(victim2),
      manifest = Some(m7.copy(epoch = 8L,
        base = (m7.base.filterNot(_ == victim2) :+ promoted2).sorted, appends = Nil)),
      stage = tmp2)
    // the laggard replays the OLD epoch-7 journal while the NEW epoch-8
    // journal sits pending: nothing of the successor's may move — its
    // journal is a DIFFERENT file (unique marker names), so a
    // check-then-delete window cannot exist
    ScopedCommit.replay(fs, dir, lines)
    assert(LayoutManifest.readLines(fs, lines2.marker) == lines2.lines,
      "stale replay must not delete the successor's journal")
    assert(fs.exists(new org.apache.hadoop.fs.Path(tmp2, victim2)),
      "stale replay must not delete the successor's stage")
    // the successor drives to completion; then an even-later laggard
    // replay of epoch 7 must not roll the table back to 7: the epoch-7
    // snapshot already exists, so the laggard's create-exclusive LOSES —
    // there is no live pointer left to roll back (the closed r18 residual)
    assert(ScopedCommit.recover(fs, dir))
    assert(LayoutManifest.read(fs, dir).get.epoch == 8L)
    ScopedCommit.replay(fs, dir, lines)
    assert(LayoutManifest.read(fs, dir).get.epoch == 8L,
      "committed epochs must be unrollable under laggard replay")
    assert(rows(spark.read.parquet(s"$base/tbl")) == want)
    assert(rows(store.readVersion("tbl", 8L)) == want)
    // and a laggard replaying ITS OWN already-committed journal cannot
    // clobber a later SAME-epoch snapshot refresh (the stat cache): the
    // refresh content survives because the laggard's create loses
    val m8 = LayoutManifest.read(fs, dir).get
    LayoutManifest.rewriteSameEpoch(fs, dir, m8.copy(touched = Some(42.0)))
    ScopedCommit.replay(fs, dir, lines2)
    assert(LayoutManifest.read(fs, dir).get.touched.contains(42.0),
      "laggard replay must not roll back a same-epoch stat refresh")
    // a laggard whose epoch was since VACUUMED must not resurrect a ghost
    // snapshot (files gone, $history would list an unreadable epoch): the
    // forward-only guard skips the write — and since committed epochs
    // never decrease, the guard is stable, not a check-then-act window
    store.vacuum("tbl", keepLast = 1)                 // drops v0 and v7
    assert(store.listVersions("tbl") == Seq(8L))
    ScopedCommit.replay(fs, dir, lines)               // the epoch-7 laggard
    assert(store.listVersions("tbl") == Seq(8L),
      "a vacuumed epoch must stay vacuumed under laggard replay")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      LayoutManifest.historyDir(dir), "v7")))
    // journaled commits leave no `.w_` checksum-sidecar debris behind
    // (the raw atomic move bypasses ChecksumFileSystem, which also HIDES
    // crc files from fs.listStatus — list via nio to see the real dir;
    // unique marker names would leak one hidden crc per commit without
    // the explicit cleanup)
    import scala.jdk.CollectionConverters._
    val nioCrcs = java.nio.file.Files.list(java.nio.file.Paths.get(
        LayoutManifest.historyDir(dir).toUri.getPath))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.contains(".w_") && n.endsWith(".crc")).toSeq
    assert(nioCrcs.isEmpty, s"leaked checksum sidecars: ${nioCrcs.mkString(",")}")
  }

  test("epoch claims: a concurrent mutator fails loudly with the table intact; " +
    "commits release claims") {
    val base = Files.createTempDirectory("graft_tt_cas").toString
    val store = new Store(spark, base)
    val df = spark.range(500).select(col("id").as("k"), (col("id") % 100).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)      // epoch 0
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    // writer A is mid-flight: it holds the claim for epoch 1
    fs.mkdirs(LayoutManifest.historyDir(dir))
    val o = fs.create(LayoutManifest.claimPath(dir, 1L), false)
    o.write("other-writer".getBytes("UTF-8")); o.close()
    val before = triples()
    val batch = spark.range(500, 550).select(col("id").as("k"), (col("id") % 100).as("v"))
    intercept[java.util.ConcurrentModificationException] {
      store.appendZordered(batch, "tbl", Seq("k", "v"), files = 1)
    }
    intercept[java.util.ConcurrentModificationException] {
      store.deleteWhere("tbl", col("k") < 10)
    }
    assert(triples() == before, "losing mutators must leave the table untouched")
    assert(rows(spark.read.parquet(dir.toString)) == rows(store.readVersion("tbl", 0L)))
    // A crashed before committing: the frontier claim releases explicitly
    assert(store.releaseStaleClaims("tbl") == 1)
    store.appendZordered(batch, "tbl", Seq("k", "v"), files = 1)  // epoch 1
    assert(!fs.exists(LayoutManifest.claimPath(dir, 1L)), "commit must release the claim")
  }

  test("a fully-written v<N> snapshot IS a committed epoch (immutable commit " +
    "pointers); both first-write paths race for the same fresh-table claim") {
    val base = Files.createTempDirectory("graft_tt_phantom").toString
    val store = new Store(spark, base)
    val df = spark.range(200).select(col("id").as("k"), (col("id") % 9).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)     // epoch 0
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the snapshot's atomic CREATE is the commit point, sequenced after
    // all data motion — so a visible v9 (here: same file set as v0, the
    // shape a crash-between-metadata-calls can actually leave) is a
    // COMMITTED epoch, not a phantom: reads serve it, the current
    // resolution is the max snapshot, and nothing ever rolls it back
    val m = LayoutManifest.read(fs, dir).get
    LayoutManifest.write(fs, dir, m.copy(epoch = 9L))
    assert(store.listVersions("tbl") == Seq(0L, 9L))
    assert(LayoutManifest.read(fs, dir).get.epoch == 9L)
    assert(rows(store.readVersion("tbl", 9L)) == rows(df))
    assert(rows(store.readSnapshot("tbl")) == rows(df))
    // the admin release clears the frontier CLAIM a crashed writer left,
    // and never touches snapshots — deleting the max snapshot would BE
    // the rollback the immutable-pointer design eliminates
    val o9 = fs.create(LayoutManifest.claimPath(dir, 12L), false)
    o9.write("crashed-writer".getBytes("UTF-8")); o9.close()
    // and a writer that died mid writeLinesCreate leaves a hidden .w_
    // staging tmp — swept by the same explicit no-writer-live path
    val debris = new org.apache.hadoop.fs.Path(
      LayoutManifest.historyDir(dir), ".w_v12_deadbeef")
    val od = fs.create(debris, false); od.write("zcols=k".getBytes); od.close()
    assert(store.releaseStaleClaims("tbl") == 1)
    assert(!fs.exists(LayoutManifest.claimPath(dir, 12L)))
    assert(!fs.exists(debris), "crash-orphaned .w_ staging tmps must sweep")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      LayoutManifest.historyDir(dir), "v9")))
    // immutability: a second commit attempt at the same epoch cannot
    // clobber the existing snapshot (create-exclusive loses)
    LayoutManifest.write(fs, dir, m.copy(epoch = 9L, touched = Some(7.0)))
    assert(LayoutManifest.read(fs, dir).get.touched.isEmpty,
      "an existing epoch snapshot must never be overwritten by a commit")
    // the next mutation continues from the max snapshot
    store.deleteWhere("tbl", col("k") < 10)                      // epoch 10
    assert(store.listVersions("tbl") == Seq(0L, 9L, 10L))

    // fresh-table first-write serialization: both append paths claim c0,
    // so a crashed (or concurrent) first writer blocks either path loudly
    val fresh = new org.apache.hadoop.fs.Path(s"$base/fresh")
    fs.mkdirs(LayoutManifest.historyDir(fresh))
    val o = fs.create(LayoutManifest.claimPath(fresh, 0L), false)
    o.write("other-writer".getBytes("UTF-8")); o.close()
    intercept[java.util.ConcurrentModificationException] {
      store.appendZordered(df, "fresh", Seq("k", "v"), files = 1)
    }
    intercept[java.util.ConcurrentModificationException] {
      store.writeZordered(df, "fresh", Seq("k", "v"), files = 1)
    }
    // and the first commit lands at epoch 0 — one numbering across paths
    assert(fs.delete(LayoutManifest.claimPath(fresh, 0L), false))
    store.appendZordered(df, "fresh", Seq("k", "v"), files = 1)
    assert(LayoutManifest.read(fs, fresh).get.epoch == 0L)
    assert(store.listVersions("fresh") == Seq(0L))
  }

  test("writeZordered over an existing manifest-tracked table is a journaled " +
    "REPLACE: history survives, replaced files retire, the claim serializes it") {
    val base = Files.createTempDirectory("graft_tt_replace").toString
    val store = new Store(spark, base)
    val v1 = spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    val v2 = spark.range(2000, 2500).select(col("id").as("k"), (col("id") % 3).as("v"))
    store.writeZordered(v1, "tbl", Seq("k", "v"), files = 2)     // epoch 0
    val epoch0 = rows(spark.read.parquet(s"$base/tbl"))
    store.writeZordered(v2, "tbl", Seq("k", "v"), files = 2)     // epoch 1: REPLACE
    assert(rows(spark.read.parquet(s"$base/tbl")) == rows(v2))
    // the overwrite retired (not deleted) every epoch-0 file: time travel
    // across a full replace works, and the hidden dirs survived the write
    assert(store.listVersions("tbl") == Seq(0L, 1L))
    assert(rows(store.readVersion("tbl", 0L)) == epoch0)
    assert(rows(store.readSnapshot("tbl")) == rows(v2))
    // a held claim blocks the replace loudly, table untouched
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(LayoutManifest.claimPath(dir, 2L), false)
    o.write("other-writer".getBytes("UTF-8")); o.close()
    intercept[java.util.ConcurrentModificationException] {
      store.writeZordered(v1, "tbl", Seq("k", "v"), files = 2)
    }
    assert(rows(spark.read.parquet(dir.toString)) == rows(v2))
    assert(fs.delete(LayoutManifest.claimPath(dir, 2L), false))
    // vacuum to the current epoch reclaims the replaced files' bytes
    val stats = store.vacuum("tbl", keepLast = 1)
    assert(stats.removedFiles > 0 && stats.reclaimedBytes > 0L)
    intercept[IllegalStateException] { store.readVersion("tbl", 0L) }
  }

  test("the epoch CAS admits exactly one winner per transition under a real " +
    "multi-thread race (atomic create-if-absent on file://)") {
    val base = Files.createTempDirectory("graft_tt_race").toString
    val store = new Store(spark, base)
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val n = 4
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val winCount = new java.util.concurrent.atomic.AtomicInteger(0)
    (0 until n).foreach { t =>
      pool.execute(() => {
        val batch = spark.range(t * 100L, t * 100L + 100)
          .select(col("id").as("k"), (col("id") % 11).as("v"))
        start.await()
        try {
          store.appendZordered(batch, "tbl", Seq("k", "v"), files = 1)
          winCount.incrementAndGet()
          ()
        } catch {
          case _: java.util.ConcurrentModificationException => ()
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val wins = winCount.get
    // appends are file-disjoint by construction, so the optimistic CAS
    // retry serializes ALL of them — every batch lands as its own epoch
    // (r20; before the retry, exactly one landed per transition). Still
    // no interleaving and no partial batches.
    assert(wins == n, s"all $n disjoint appends must serialize, got $wins")
    assert(spark.read.parquet(s"$base/tbl").count() == 100L * wins,
      s"committed rows must be exactly the $wins winners' batches")
    assert(store.listVersions("tbl") == (0L until wins.toLong),
      "one epoch per winner, consecutively numbered")
  }

  test("optimistic concurrency on the partition upsert: disjoint-day racers " +
    "all land; same-day racers produce a loud loser with the table intact") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val base = Files.createTempDirectory("graft_tt_opt").toString
    val store = new Store(spark, base)
    def day(d: Int, off: Long) = spark.range(off, off + 50).select(
      col("id").as("k"),
      expr(s"timestamp'2024-05-0$d 00:00:00'").as("ts"),
      (col("id") % 9).cast("double").as("value"))
    store.writePartitionedManaged(day(1, 0), "ptbl", tsCol = "ts")  // epoch 0
    // 4 threads, 4 DISJOINT days: with conflict-detection-and-retry all
    // four serialize (pre-r20: exactly one landed, three failed loudly)
    val n = 4
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { t =>
      pool.execute(() => {
        val batch = day(t + 2, 100L * (t + 1))
        start.await()
        try store.upsertPartitionsManaged(batch, "ptbl", tsCol = "ts")
        catch { case e: Throwable => errs.add(e); () }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"disjoint days must all land: ${errs.peek()}")
    val snap = store.readSnapshot("ptbl")
    assert(snap.count() == 50L * (n + 1))
    assert(snap.select(countDistinct(col("dt"))).head.getLong(0) == n + 1)
    assert(store.listVersions("ptbl") == (0L to n.toLong))

    // SAME-day race: one commits, the other's retry detects the overlap
    // and stays loud; the table holds exactly one batch's content
    val start2 = new CountDownLatch(1)
    val pool2 = Executors.newFixedThreadPool(2)
    val errs2 = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ok2 = new java.util.concurrent.atomic.AtomicInteger(0)
    (0 until 2).foreach { t =>
      pool2.execute(() => {
        val batch = day(9, 1000L * (t + 1))
          .withColumn("value", col("value") + t * 100)
        start2.await()
        try { store.upsertPartitionsManaged(batch, "ptbl", tsCol = "ts"); ok2.incrementAndGet(); () }
        catch { case e: Throwable => errs2.add(e); () }
      })
    }
    start2.countDown()
    pool2.shutdown()
    assert(pool2.awaitTermination(180, TimeUnit.SECONDS))
    // either both raced (one loud loser) or they serialized without a CAS
    // collision (both landed, one after the other) — in every outcome the
    // day holds exactly ONE batch's 50 rows and nothing interleaved
    assert(ok2.get >= 1, errs2.toString)
    errs2.forEach(e => assert(
      e.isInstanceOf[java.util.ConcurrentModificationException], e.toString))
    val d9 = store.readSnapshot("ptbl")
      .where(col("dt") === lit("2024-05-09").cast("date"))
    assert(d9.count() == 50)
    assert(d9.select(countDistinct(col("k"))).head.getLong(0) == 50)
  }

  test("a no-match COW pass holds (and releases) the claim: the locate scan " +
    "runs inside the CAS window, so a held claim blocks even a no-op delete") {
    val base = Files.createTempDirectory("graft_tt_nomatch").toString
    val store = new Store(spark, base)
    store.writeZordered(
      spark.range(300).select(col("id").as("k"), (col("id") % 7).as("v")),
      "tbl", Seq("k", "v"), files = 2)                            // epoch 0
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // another writer holds the next epoch: a concurrent append could be
    // adding match-bearing files, so even a delete that WOULD match nothing
    // must fail loudly rather than answer from a pre-claim file listing
    val o = fs.create(LayoutManifest.claimPath(dir, 1L), false)
    o.write("other-writer".getBytes("UTF-8")); o.close()
    intercept[java.util.ConcurrentModificationException] {
      store.deleteWhere("tbl", col("k") > 100000)
    }
    assert(fs.delete(LayoutManifest.claimPath(dir, 1L), false))
    // unclaimed: the no-match pass is a no-op that leaves no claim behind
    val stats = store.deleteWhere("tbl", col("k") > 100000)
    assert(stats.filesTouched == 0 && stats.rowsDeleted == 0L)
    assert(!fs.exists(LayoutManifest.claimPath(dir, 1L)),
      "no-match pass must release the claim it took")
    store.deleteWhere("tbl", col("k") < 5) // table not wedged
    assert(spark.read.parquet(dir.toString).count() == 295)
  }

  test("the snapshot view serves EXACTLY the committed epoch through a " +
    "mid-journal state where the live listing shows duplicates") {
    val base = Files.createTempDirectory("graft_tt_midj").toString
    val store = new Store(spark, base)
    val df = spark.range(1000).select(col("id").as("k"), (col("id") % 17).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)      // epoch 0
    store.registerSnapshotView("graft_tt_midj_v", "tbl")
    assert(spark.table("graft_tt_midj_v").count() == 1000)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manufacture MID-REPLAY: journal written, promoted copy renamed IN,
    // original not yet retired — the exact window where a listing-based
    // read returns promoted copies AND originals at once
    val victim = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted.head
    val victimRows = spark.read.parquet(s"$dir/$victim").count()
    assert(victimRows > 0)
    val tmp = ScopedCommit.newStageDir(dir)
    fs.mkdirs(tmp)
    assert(org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(dir, victim), fs,
      new org.apache.hadoop.fs.Path(tmp, victim), false,
      spark.sparkContext.hadoopConfiguration))
    val m = LayoutManifest.read(fs, dir).get
    val promoted = s"part-s9-${victim.stripPrefix("part-")}"
    ScopedCommit.write(fs, dir, renames = Seq(victim -> promoted),
      deletes = Nil, retires = Seq(victim),
      manifest = Some(m.copy(epoch = 9L,
        base = (m.base.filterNot(_ == victim) :+ promoted).sorted, appends = Nil)),
      stage = tmp)
    assert(fs.rename(new org.apache.hadoop.fs.Path(tmp, victim),
      new org.apache.hadoop.fs.Path(dir, promoted)))
    // the listing-based read hits the window: duplicates
    assert(spark.read.parquet(dir.toString).count() == 1000 + victimRows,
      "test setup must manufacture the duplicate window")
    // the pinned view does not: exactly the committed epoch
    assert(spark.table("graft_tt_midj_v").count() == 1000,
      "snapshot view leaked mid-journal duplicates")
    // recovery + next commit re-pins the view onto the new epoch
    store.appendZordered(
      spark.range(1000, 1050).select(col("id").as("k"), (col("id") % 17).as("v")),
      "tbl", Seq("k", "v"), files = 1)
    assert(spark.table("graft_tt_midj_v").count() == 1050)
    spark.catalog.dropTempView("graft_tt_midj_v")
  }

  test("version views: SQL time travel reads a pinned epoch; a vacuum that " +
    "drops the epoch turns the view loud-on-use; registration stays loud") {
    val base = Files.createTempDirectory("graft_tt_vview").toString
    val store = new Store(spark, base)
    val df = spark.range(2000).select(col("id").as("k"), (col("id") % 23).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)      // epoch 0
    store.deleteWhere("tbl", col("k") < 500)                      // epoch 1
    store.registerVersionView("graft_tt_v0", "tbl", 0L)
    // the pinned epoch is the PRE-delete table, through pure SQL
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_tt_v0").head.getLong(0) == 2000)
    // content pins too, not just counts
    assert(spark.sql("SELECT SUM(v) AS s FROM graft_tt_v0").head.getLong(0) ==
      df.agg(sum("v")).head.getLong(0))
    // a recluster RETIRES the epoch-0 files; the re-pin re-resolves them
    // to the retired dir and the view keeps serving the same rows
    store.recluster("tbl", Seq("k", "v"), files = 2)              // epoch 2
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_tt_v0").head.getLong(0) == 2000)
    // vacuum keeps only the current epoch: the view must turn LOUD
    store.vacuum("tbl", keepLast = 1)
    val err = intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM graft_tt_v0").collect()
    }
    assert(err.getMessage.contains("no longer resolvable"), err.getMessage)
    // the error view keeps the ORIGINAL schema: a query naming a real
    // column must still analyze and surface the raise_error cause — a
    // single-column error schema would die first with a misleading
    // UNRESOLVED_COLUMN that points nowhere near the vacuum
    assert(spark.table("graft_tt_v0").columns.toSeq == Seq("k", "v"),
      "loud-on-use view must preserve the pinned schema")
    val errCol = intercept[Exception] {
      spark.sql("SELECT SUM(v) FROM graft_tt_v0").collect()
    }
    assert(errCol.getMessage.contains("no longer resolvable"), errCol.getMessage)
    // and registering the dropped epoch fails loudly up front
    intercept[IllegalStateException] { store.registerVersionView("graft_tt_v0b", "tbl", 0L) }
    spark.catalog.dropTempView("graft_tt_v0")
    // a view the user DROPPED stays dropped: the next mutation's refresh
    // must not resurrect it (an intentional catalog action wins over the
    // registration), and later mutations keep working
    store.registerSnapshotView("graft_tt_vsnap", "tbl")
    assert(spark.catalog.tableExists("graft_tt_vsnap"))
    spark.catalog.dropTempView("graft_tt_vsnap")
    store.deleteWhere("tbl", col("k") >= 1900)
    assert(!spark.catalog.tableExists("graft_tt_vsnap"),
      "mutation resurrected a dropped pinned view")
    // a view the user REPLACED with their own definition is theirs now:
    // the next mutation must leave it alone (intentional catalog actions
    // always win over the registration)
    store.registerSnapshotView("graft_tt_vmine", "tbl")
    spark.range(7).select(col("id").as("mine")).createOrReplaceTempView("graft_tt_vmine")
    store.deleteWhere("tbl", col("k") >= 1800)
    assert(spark.table("graft_tt_vmine").columns.toSeq == Seq("mine") &&
      spark.table("graft_tt_vmine").count() == 7,
      "mutation clobbered a user-replaced view back to the pin")
    spark.catalog.dropTempView("graft_tt_vmine")
  }

  test("commit timestamps are monotonic across epochs even when a predecessor " +
    "carries a future clock (Delta's commit-timestamp adjustment)") {
    val base = Files.createTempDirectory("graft_ttmono").toString
    val store = new Store(spark, base)
    val df = spark.range(500).select(col("id").as("k"), (col("id") % 7).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)          // epoch 0
    // doctor epoch 0's stamp an hour into the future (multi-writer clock
    // skew / a crashed journal recovered much later)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m0 = LayoutManifest.read(fs, dir).get
    val future = System.currentTimeMillis + 3600L * 1000
    LayoutManifest.rewriteSameEpoch(fs, dir, m0.copy(committedAt = Some(future)))
    store.appendZordered(
      spark.range(500, 600).select(col("id").as("k"), (col("id") % 7).as("v")),
      "tbl", Seq("k", "v"), files = 1)                                // epoch 1
    val hist = store.versionHistory("tbl").map(v => v.epoch -> v.committedAtMs).toMap
    assert(hist(1L) == future + 1L,
      s"epoch 1 must clamp to predecessor+1, got ${hist(1L)} vs $future")
    // TIMESTAMP AS OF at the doctored instant resolves to epoch 0, one
    // past it to epoch 1 — no epoch is skipped or shadowed
    assert(hist(0L) < hist(1L))
  }

  test("maintainRetention vacuums only past the measured retired-bytes threshold") {
    val base = Files.createTempDirectory("graft_tt_retention").toString
    val store = new Store(spark, base)
    store.writeZordered(
      spark.range(4000).select(col("id").as("k"),
        pmod(col("id") * 37, lit(4000)).as("v")),
      "tbl", Seq("k", "v"), files = 4)                         // epoch 0
    val s0 = store.retentionStats("tbl")
    assert(s0.retiredBytes == 0L && s0.liveBytes > 0L && s0.epochs == 1)
    // a fresh table never trips the trigger, at any threshold
    assert(store.maintainRetention("tbl", maxRetiredFraction = 0.0, keepLast = 1).isEmpty)
    store.deleteWhere("tbl", col("k") < 2000)                  // epoch 1: retires ~half
    val s1 = store.retentionStats("tbl")
    assert(s1.retiredBytes > 0L && s1.epochs == 2)
    val frac = s1.retiredBytes.toDouble / s1.liveBytes
    // below threshold: byte-identical no-op, history intact
    assert(store.maintainRetention("tbl", maxRetiredFraction = frac + 1.0,
      keepLast = 1).isEmpty)
    assert(rows(store.readVersion("tbl", 0L)).size == 4000)
    // past threshold: vacuums to keepLast, reclaiming the orphaned retirees
    val ran = store.maintainRetention("tbl", maxRetiredFraction = frac / 2,
      keepLast = 1)
    assert(ran.nonEmpty && ran.get.reclaimedBytes > 0L)
    assert(store.retentionStats("tbl").retiredBytes < s1.retiredBytes)
    intercept[IllegalStateException] { store.readVersion("tbl", 0L) }
    assert(rows(store.readSnapshot("tbl")) ==
      rows(spark.read.parquet(s"$base/tbl")))
  }

  test("an in-process mutator failure releases its epoch claim — the table " +
    "is not wedged behind a dead claim") {
    val base = Files.createTempDirectory("graft_tt_release").toString
    val store = new Store(spark, base)
    store.writeZordered(
      spark.range(300).select(col("id").as("k"), (col("id") % 7).as("v")),
      "tbl", Seq("k", "v"), files = 2)
    // updateWhere validates SET columns AFTER taking the epoch claim —
    // the thrown require must release it, or every later mutation throws
    // ConcurrentModificationException against a writer that no longer exists
    intercept[IllegalArgumentException] {
      store.updateWhere("tbl", lit(true), Map("no_such_col" -> lit(1L)))
    }
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(LayoutManifest.claimPath(dir, 1L)),
      "failed mutator left its claim behind")
    store.deleteWhere("tbl", col("k") < 5) // succeeds: not wedged
    assert(spark.read.parquet(dir.toString).count() == 295)
    // the measure-only pass also cleans up after itself: the table is at
    // epoch 1 after the delete, so erosionStats holds (and must release)
    // the claim for epoch 2
    store.erosionStats("tbl")
    assert(!fs.exists(LayoutManifest.claimPath(dir, 2L)))
    store.scopedRecluster("tbl") // still not wedged after the stat refresh
  }

  test("maintainZordered size-trigger folds accreted thin append layers " +
    "without touching disjoint base files") {
    val base = Files.createTempDirectory("graft_tt_thin").toString
    val store = new Store(spark, base)
    // base layout over k 0..10000; thin appends land in FRESH key space
    // (k >= 10000), so rects never erode the base — only the file count grows
    val df = spark.range(10000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(10000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def liveTriples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val baseTriples = liveTriples()
    (0 until 5).foreach { i =>
      store.appendZordered(
        spark.range(10000 + i * 100, 10100 + i * 100)
          .select(col("id").as("k"), (col("id") % 50).as("v")),
        "tbl", Seq("k", "v"), files = 2)
    }
    val want = rows(spark.read.parquet(dir.toString))
    val e = store.erosionStats("tbl")
    assert(e.appendLayers == 5 && e.appendFiles >= 5)
    // erosion alone does not trip (generous touched threshold), so without
    // the size trigger the thin layers would accrete forever
    assert(store.maintainZordered("tbl", maxTouchedPerProbe = e.touchedPerProbe + 1).isEmpty)
    val stats = store.maintainZordered("tbl", maxTouchedPerProbe = e.touchedPerProbe + 1,
      maxAppendFiles = Some(4))
    assert(stats.nonEmpty, "file-count trigger must fire past the threshold")
    // disjoint-key appends: every base file kept byte/mtime-identical,
    // layers folded to zero, rows identical
    assert(baseTriples.subsetOf(liveTriples()),
      "size-triggered pass must not rewrite disjoint base files")
    val after = store.erosionStats("tbl")
    assert(after.appendLayers == 0 && after.appendFiles == 0)
    assert(rows(spark.read.parquet(dir.toString)) == want)
    // bounded output: the folded layers land in few right-sized files, not
    // one per original layer
    assert(liveTriples().size <= baseTriples.size + 2,
      s"thin layers not folded: ${liveTriples().size} files")
  }

  test("a snapshot read and a change feed each recover and resolve the table once") {
    val base = Files.createTempDirectory("graft_tt_listings").toString
    val store = new Store(spark, base)
    store.writeZordered(spark.range(300).select(col("id").as("k"), (col("id") % 7).as("v")),
      "tbl", Seq("k", "v"), files = 2)                               // epoch 0
    store.deleteWhere("tbl", col("k") < 10)                          // epoch 1
    // the same table through a file system that records every listing
    ListingCountingFs.register(spark)
    val counted = new Store(spark, s"countfs://$base")
    val dir = s"$base/tbl"
    val history = s"$dir/${LayoutManifest.HistoryDirName}"
    def listings(body: => Unit): Map[String, Int] = {
      ListingCountingFs.clear()
      body
      ListingCountingFs.listed.toArray.toSeq.map(_.toString)
        .groupBy(identity).map { case (p, ps) => p -> ps.size }
    }
    def snapshotsOpened(): Map[String, Int] =
      ListingCountingFs.opened.toArray.toSeq.map(_.toString)
        .filter(_.startsWith(s"$history/v")).groupBy(identity).map { case (p, ps) => p -> ps.size }
    // one recovery lists the journal markers and one manifest read lists
    // the snapshots; one resolution walks the root for live and retired files
    val snap = listings(counted.readSnapshot("tbl"))
    assert(snap.getOrElse(history, 0) == 2 && snap.getOrElse(dir, 0) == 2, snap)
    assert(snapshotsOpened() == Map(s"$history/v1" -> 1), snapshotsOpened())
    // the feed lists no more than the snapshot read: the commit stamps come
    // from the snapshots its delta loop reads, and it reads each one once
    val feed = listings(counted.changeFeed("tbl", Seq("k"), sinceEpoch = -1))
    assert(feed.getOrElse(history, 0) == 2 && feed.getOrElse(dir, 0) == 2, feed)
    assert(snapshotsOpened() == Map(s"$history/v0" -> 1, s"$history/v1" -> 1), snapshotsOpened())
    // neither read probes for a parked copy of the table beside it: the
    // journal is the only commit protocol a table entry has to recover
    val park = s"$base/.old_tbl"
    def probes(body: => Unit): Seq[String] = {
      ListingCountingFs.clear()
      body
      ListingCountingFs.probed.toArray.toSeq.map(_.toString)
    }
    val snapProbes = probes(counted.readSnapshot("tbl"))
    assert(!snapProbes.contains(park), snapProbes)
    val feedProbes = probes(counted.changeFeed("tbl", Seq("k"), sinceEpoch = -1))
    assert(!feedProbes.contains(park), feedProbes)
  }
}
