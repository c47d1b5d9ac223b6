package graft.io

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

class StoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("partitioned parquet: dynamic overwrite touches only the delta's partitions") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_part").toString
    val store = new Store(spark, base)
    val day1 = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2.0)).toDF("datetime", "v")
    store.writePartitioned(day1, "hist")
    // overwrite ONLY 2024-01-02 with a new value
    val delta = Seq((java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 99.0)).toDF("datetime", "v")
    store.writePartitioned(delta, "hist")
    val out = spark.read.parquet(s"$base/hist").drop("dt").collect()
      .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
    assert(out("2024-01-01 10:00:00.0") == 1.0) // untouched partition survives
    assert(out("2024-01-02 10:00:00.0") == 99.0) // delta partition replaced
  }

  test("partitioned COW: deleteWhere/updateWhere touch only match-bearing " +
    "partitions; an update of the partition column moves its rows' directory") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_part_cow").toString
    val store = new Store(spark, base)
    val df = (0 until 3000).map { i =>
      (java.sql.Timestamp.valueOf(s"2024-01-0${i % 3 + 1} 10:00:00"), i.toLong, (i % 50).toDouble)
    }.toDF("datetime", "k", "v")
    store.writePartitioned(df, "tbl")
    val root = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples(part: String) = {
      val p = new org.apache.hadoop.fs.Path(root, part)
      if (!fs.exists(p)) Set.empty[(String, Long, Long)]
      else fs.listStatus(p).filter(st => st.isFile && !st.getPath.getName.startsWith("."))
        .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    }
    val d1 = triples("dt=2024-01-01")
    val d2 = triples("dt=2024-01-02")
    assert(d1.nonEmpty && d2.nonEmpty)

    // delete scoped to one partition: the predicate names dt, so only that
    // directory's files are located, rewritten, and replaced
    val del = store.deleteWhere("tbl",
      col("dt") === lit("2024-01-03").cast("date") && col("v") >= 25)
    assert(del.rowsDeleted == df.where(to_date(col("datetime")) === "2024-01-03"
      && col("v") >= 25).count())
    assert(triples("dt=2024-01-01") == d1 && triples("dt=2024-01-02") == d2,
      "untouched partitions must keep name/bytes/mtime")

    // update that MOVES rows across partitions: SET dt relocates matching
    // rows' directory; replacement files land under the new value
    val upd = store.updateWhere("tbl",
      col("dt") === lit("2024-01-02").cast("date") && col("k") % 2 === 0,
      Map("dt" -> lit("2024-01-09").cast("date")))
    assert(upd.rowsUpdated > 0)
    assert(triples("dt=2024-01-09").nonEmpty, "moved rows must land under the new dt dir")
    assert(triples("dt=2024-01-01") == d1, "unrelated partition still untouched")
    val moved = spark.read.parquet(s"$base/tbl")
      .where(col("dt") === lit("2024-01-09").cast("date")).count()
    assert(moved == upd.rowsUpdated)
    // total row count is conserved across both ops
    assert(spark.read.parquet(s"$base/tbl").count() == 3000 - del.rowsDeleted)
  }

  test("writeZordered over an existing PARTITIONED dir replaces the deep " +
    "file set — no old partition rows survive beside the new layout") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_z_over_part").toString
    val store = new Store(spark, base)
    store.writePartitioned(Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 1.0),
      (java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 2L, 2.0))
      .toDF("datetime", "k", "v"), "tbl")
    val df = spark.range(500).select(col("id").as("k"), (col("id") % 9).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)
    val got = spark.read.parquet(s"$base/tbl")
    assert(got.count() == 500, "old partitioned rows leaked past the replace")
    assert(got.columns.sorted.toSeq == Seq("k", "v"))
    // the replace prunes emptied partition skeletons — including
    // MULTI-LEVEL ones, bottom-up (an a=1/b=2 layout must not strand
    // empty a=1 dirs on the now-flat table)
    val multi = Seq((1, 10, 1.0), (2, 20, 2.0)).toDF("a", "b", "v")
    multi.write.partitionBy("a", "b").parquet(s"$base/tbl2")
    store.writeZordered(df, "tbl2", Seq("k", "v"), files = 2)
    val root2 = new org.apache.hadoop.fs.Path(s"$base/tbl2")
    val fs = root2.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftoverDirs = fs.listStatus(root2).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith("."))
    assert(leftoverDirs.isEmpty,
      s"empty partition skeletons survived the replace: ${leftoverDirs.mkString(",")}")
    assert(spark.read.parquet(s"$base/tbl2").count() == 500)
  }

  test("pinned-view re-pins resolve through the REGISTERING store's base dir, " +
    "not the mutator's") {
    val base = Files.createTempDirectory("graft_crossbase").toString
    val storeOuter = new Store(spark, base)
    val df = spark.range(400).select(col("id").as("k"), (col("id") % 5).as("v"))
    storeOuter.writeZordered(df, "nest/tbl", Seq("k", "v"), files = 2)
    storeOuter.registerSnapshotView("graft_crossbase_v", "nest/tbl")
    assert(spark.table("graft_crossbase_v").count() == 400)
    // a DIFFERENT store addresses the same table dir with another
    // baseDir/rel split; its mutation must re-pin the view through the
    // ORIGINAL registration (baseDir=base, rel=nest/tbl), not by
    // resolving "nest/tbl" against its own base
    val storeInner = new Store(spark, s"$base/nest")
    storeInner.deleteWhere("tbl", col("k") < 100)
    assert(spark.table("graft_crossbase_v").count() == 300,
      "cross-baseDir mutation broke or staled the pinned view")
    spark.catalog.dropTempView("graft_crossbase_v")
  }

  test("writeCsv: nested rel swaps in place, overwrite replaces, no tmp debris") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_csv").toString
    val store = new Store(spark, base)
    val rel = "exports/2024/data.csv" // '/'-bearing rel: tmp must stay beside the leaf
    store.writeCsv(Seq(("2024-01-01T01:00", 1.0)).toDF("datetime", "v"), rel)
    store.writeCsv(Seq(("2024-01-01T02:00", 2.0)).toDF("datetime", "v"), rel)

    val out = spark.read.option("header", "true").csv(s"$base/$rel").collect()
    assert(out.length == 1 && out(0).getString(1) == "2.0") // second write won
    val parent = java.nio.file.Paths.get(s"$base/exports/2024")
    val leftovers = Files.list(parent).map(_.getFileName.toString)
      .filter(n => n.startsWith(".tmp_") || n.startsWith(".old_")).toArray
    assert(leftovers.isEmpty, s"swap debris: ${leftovers.mkString(", ")}")
    // and nothing escaped outside the rel's parent (the old '.tmp_a/b' bug)
    assert(!Files.exists(java.nio.file.Paths.get(s"$base/.tmp_exports")))
  }

  test("writeJsonl: sharded export is complete, hash-law-sharded, byte-reproducible") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "source")
    val base = Files.createTempDirectory("graft_jsonl").toString
    val store = new Store(spark, base)

    def shardContents(rel: String): Map[String, String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(s"$base/$rel")
      Files.list(root).iterator().asScala
        .filter(_.getFileName.toString.startsWith("__shard="))
        .map { dir =>
          val parts = Files.list(dir).iterator().asScala
            .filter(_.getFileName.toString.startsWith("part-"))
            .toSeq.sortBy(_.getFileName.toString)
          dir.getFileName.toString ->
            parts.map(f => new String(Files.readAllBytes(f), "UTF-8")).mkString
        }.toMap
    }

    store.writeJsonl(docs, "export_a", shards = 4)
    // a second write from a DIFFERENT partition layout of the same rows
    store.writeJsonl(docs.repartition(7), "export_b", shards = 4)
    val a = shardContents("export_a")
    val b = shardContents("export_b")
    assert(a.keySet == (0 until 4).map(i => s"__shard=$i").toSet)
    assert(a == b, "shard contents must not depend on input partitioning")

    // complete round-trip, and the shard of every row obeys the hash law
    val back = store.readJsonl("export_a", docs.schema)
    assert(back.count() == docs.count())
    assert(back.select("doc_id").except(docs.select("doc_id")).isEmpty)
    val withShard = spark.read.schema(docs.schema).json(s"$base/export_a")
    val lawBreaks = withShard.where(
      col("__shard") =!= floor(graft.ext.Sampling.hashUnit(col("doc_id"), "jsonl") * 4).cast("int"))
    assert(lawBreaks.isEmpty, "shard dir must equal the hashUnit assignment")
  }

  test("writeJsonl: a null shard key fails loudly instead of leaking to a hive default partition") {
    import spark.implicits._
    val df = Seq((Some(1L), "a", "s"), (None, "b", "s"))
      .toDF("doc_id", "text", "source")
    val store = new Store(spark, Files.createTempDirectory("graft_nullkey").toString)
    val e = intercept[Exception] { store.writeJsonl(df, "bad") }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("shard-assigned")),
      s"expected the loud null-key error, got: ${messages(e)}")
  }

  test("writeRelease: the shipped card verifies against the downloaded shards") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text", "source")
    val base = Files.createTempDirectory("graft_release").toString
    val store = new Store(spark, base)
    store.writeRelease(docs, "rel1", shards = 4)
    // the consumer's integrity check: re-derive the card from what was
    // actually downloaded and compare cell-by-cell
    val downloaded = store.readJsonl("rel1/data", docs.schema)
    val rederived = graft.ext.Sampling.datasetCard(downloaded)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val cardSchema = graft.ext.Sampling.datasetCard(docs).schema
    val shipped = spark.read.schema(cardSchema).json(s"$base/rel1/_card")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(shipped.nonEmpty && rederived == shipped)
  }

  test("z-order appends erode skipping per batch; recluster restores it atomically") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_recluster").toString
    val store = new Store(spark, base)
    // four append batches, each internally curve-clustered over the FULL
    // key range: a narrow predicate then pays one file PER BATCH, the
    // documented erosion; one recluster pass collapses it back to the
    // single-layout cost
    val df = spark.range(40000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(40000)).as("v"))
    val parts = (0 until 4).map(i => df.where(pmod(col("k"), lit(4)) === i))
    // nested rel: no stage or park may land beside the LEAF either
    store.writeZordered(parts(0), "lake/tbl", Seq("k", "v"), files = 4)
    parts.tail.foreach(p => store.appendZordered(p, "lake/tbl", Seq("k", "v"), files = 4))
    val want = spark.read.parquet(s"$base/lake/tbl").collect().map(_.toString).sorted.toSeq
    def touched(): Long = spark.read.parquet(s"$base/lake/tbl")
      .where(col("k") < 600)
      .select(input_file_name()).distinct().count()
    val eroded = touched()
    assert(eroded >= 4, s"expected per-batch erosion (>= 1 file per batch), got $eroded")
    store.recluster("lake/tbl", Seq("k", "v"), files = 16)
    assert(spark.read.parquet(s"$base/lake/tbl").collect().map(_.toString).sorted.toSeq == want)
    val restored = touched()
    assert(restored <= 3, s"recluster failed to restore skipping: $restored files for a 1/64 key window")
    // no debris anywhere under the base (incl. beside the nested leaf)
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.walk(java.nio.file.Paths.get(base))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".tmp_") || n.startsWith(".old_")).toSeq
    assert(leftovers.isEmpty, leftovers.toString)
  }

  test("z-order handles degenerate columns: constants, nulls, and 3+ keys round-trip losslessly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_zorder_edge").toString
    val store = new Store(spark, base)
    // constant column -> all quantile boundaries equal (distinct collapses
    // them to one); nulls -> bucket 0; neither may drop or duplicate rows
    val df = spark.range(1000).select(col("id").as("k"),
      lit(7).as("const"),
      when(col("id") % 10 === 0, lit(null).cast("long")).otherwise(col("id")).as("v"))
    store.writeZordered(df, "edge", Seq("k", "const", "v"), files = 4, bits = 4)
    val back = spark.read.parquet(s"$base/edge")
    assert(back.count() == 1000)
    assert(back.columns.sorted.toSeq == Seq("const", "k", "v")) // no __z leak
    assert(back.agg(sum("k")).head.getLong(0) == (0L until 1000L).sum)
    assert(back.where(col("v").isNull).count() == 100)
    // one column is writeClustered's job; z-order refuses it loudly
    intercept[IllegalArgumentException] {
      store.writeZordered(df, "one", Seq("k"), files = 4)
    }
    intercept[IllegalArgumentException] { // bits * cols must fit a long
      store.writeZordered(df, "wide", Seq("k", "const", "v"), files = 4, bits = 21)
    }
  }

  test("clustered layout also skips parquet PAGES inside a file: a selective " +
    "predicate decodes a bounded row subset where the unclustered file decodes everything") {
    import spark.implicits._
    // x51 pins FILE-level pruning; at 100 TB the next granularity is the
    // parquet column index (page stats, ~20k rows/page by writer default):
    // a clustered file's pages carry tight min/max, so the pushed
    // predicate skips whole pages before decode. Witness: ONE file each
    // (so file/row-group skipping cannot contribute), 2M rows, 1001-row
    // range predicate — the SCAN node's numOutputRows counts rows decoded
    // from surviving pages (record-level filtering is off by default, so
    // without page skipping it equals the file's row count).
    val base = Files.createTempDirectory("graft_pageskip").toString
    val store = new Store(spark, base)
    val n = 2000000L
    val df = spark.range(n).select(col("id").as("k"), (col("id") % 97).as("v"))
    store.writeClustered(df, "clu", Seq("k"), files = 1)
    df.orderBy(xxhash64(col("k"))).coalesce(1)
      .write.mode("overwrite").parquet(s"$base/unc")
    def rowsDecoded(path: String): Long = {
      val q = spark.read.parquet(path).where(col("k").between(100000, 101000))
      assert(q.count() == 1001)
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.getOrElse(fail("no FileSourceScanExec leaf in " +
        q.queryExecution.executedPlan.toString))
      scan.metrics("numOutputRows").value
    }
    val clu = rowsDecoded(s"$base/clu")
    val unc = rowsDecoded(s"$base/unc")
    info(s"decoded rows: clustered=$clu unclustered=$unc of $n")
    // clustered: the 1001 matching rows live in ~1-2 of ~100 pages; give
    // 10x slack over the two-page worst case. unclustered: every page
    // spans the full key range, nothing skips.
    assert(clu <= 400000L, s"page skipping ineffective on the clustered file: $clu rows decoded")
    assert(unc >= n, s"expected the unclustered file to decode everything, got $unc")
    assert(clu * 4 <= unc, s"clustered=$clu vs unclustered=$unc — no page-level advantage")
  }

  test("scoped recluster rewrites only eroded+appended files: untouched files keep " +
    "name/size/mtime, rows identical, skipping restored, second pass is a no-op") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_scoped").toString
    val store = new Store(spark, base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileTriples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    // base layout: k 0..40000 over 8 files; appends LOCALIZED to the key
    // tail (k 36000..42000) — the daily-ingest shape scoped OPTIMIZE exists
    // for: only the tail base file competes with the appended region
    val df = spark.range(40000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(40000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 8)
    val baseTriples = fileTriples()
    def touched(lo: Long, hi: Long): Long = spark.read.parquet(dir.toString)
      .where(col("k") >= lo && col("k") < hi)
      .select(input_file_name()).distinct().count()
    val lowFresh = touched(100, 600) // pristine-layout cost of a low-k probe
    def batch(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id").as("k"),
      pmod(col("id") * 53, lit(40000)).as("v"))
    store.appendZordered(batch(36000, 39000), "tbl", Seq("k", "v"), files = 4)
    store.appendZordered(batch(39000, 42000), "tbl", Seq("k", "v"), files = 4)
    val want = spark.read.parquet(dir.toString).collect().map(_.toString).sorted.toSeq
    val pre = touched(36000, 38900) // probe inside the eroded region
    assert(pre >= 4, s"expected erosion across tail base + append files, got $pre")
    val stats = store.scopedRecluster("tbl")
    // the appends were k-tail-local, so MOST base files never intersect
    // them and are never opened — same name, same bytes, same mtime.
    // (Hilbert file rects project ~half the k domain each, so a k-tail
    // append erodes the k-upper files, not just one.)
    assert(stats.keptFiles >= 4 && stats.keptFiles < 8, stats.toString)
    val after = fileTriples()
    val keptTriples = baseTriples.intersect(after)
    assert(keptTriples.size == stats.keptFiles,
      s"untouched base files not byte/mtime-identical: ${keptTriples.size} vs $stats")
    assert(spark.read.parquet(dir.toString).collect().map(_.toString).sorted.toSeq == want)
    val post = touched(36000, 38900)
    assert(post <= 3 && post < pre,
      s"skipping not restored in the rewritten region: $pre -> $post files")
    // an untouched-region probe costs what the pristine layout cost
    assert(touched(100, 600) <= lowFresh)
    // no journal/stage debris; provenance reset to all-base
    assert(!graft.io.ScopedCommit.anyMarker(fs, dir))
    assert(!fs.listStatus(dir).exists(_.getPath.getName.startsWith(ScopedCommit.TmpDirName)))
    // a second pass finds nothing to do and moves no file
    val again = store.scopedRecluster("tbl")
    assert(again.rewrittenFiles == 0 && fileTriples() == after)
  }

  test("scoped recluster keeps every base file when appends land in fresh key space") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_scoped_disjoint").toString
    val store = new Store(spark, base)
    val df = spark.range(10000).select(col("id").as("k"), (col("id") % 97).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4)
    // append strictly beyond the base key range AND the base v range:
    // no rectangle intersection in all dims -> zero base files rewritten
    val b = spark.range(20000, 22000).select(col("id").as("k"), (col("id") % 97 + 200).as("v"))
    store.appendZordered(b, "tbl", Seq("k", "v"), files = 2)
    val stats = store.scopedRecluster("tbl")
    assert(stats.keptFiles == 4 && stats.rewrittenFiles >= 1, stats.toString)
    assert(spark.read.parquet(s"$base/tbl").count() == 12000)
  }

  test("an interrupted scoped commit replays to completion; replay is idempotent") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_scoped_crash").toString
    val store = new Store(spark, base)
    val df = spark.range(1000).select(col("id").as("k"), (col("id") * 7 % 1000).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val want = spark.read.parquet(dir.toString).collect().map(_.toString).sorted.toSeq
    // fabricate the crash state mid-commit: one data file already staged
    // under its stage dir, the journal written, NOTHING promoted yet — the
    // exact instant after ScopedCommit.write
    val victim = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("part-")).sorted.head
    val tmp = ScopedCommit.newStageDir(dir)
    fs.mkdirs(tmp)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, victim),
      new org.apache.hadoop.fs.Path(tmp, victim)))
    val m = LayoutManifest.read(fs, dir).get
    val promoted = s"part-s9-${victim.stripPrefix("part-")}"
    ScopedCommit.write(fs, dir, renames = Seq(victim -> promoted),
      deletes = Seq(victim),
      manifest = Some(m.copy(epoch = 9L,
        base = (m.base.filterNot(_ == victim) :+ promoted).sorted, appends = Nil)),
      stage = tmp)
    // next layout operation drives the journal to completion
    store.appendZordered(
      spark.range(1000, 1010).select(col("id").as("k"), (col("id") * 7 % 1000).as("v")),
      "tbl", Seq("k", "v"), files = 1)
    val names = fs.listStatus(dir).map(_.getPath.getName).toSet
    assert(names.contains(promoted) && !names.contains(victim))
    assert(!graft.io.ScopedCommit.anyMarker(fs, dir))
    assert(!fs.exists(tmp))
    val got = spark.read.parquet(dir.toString).where(col("k") < 1000)
      .collect().map(_.toString).sorted.toSeq
    assert(got == want, "rows lost or duplicated across the interrupted commit")
    // a crash BEFORE the journal leaves only stage garbage: cleaned, kept out of scans
    fs.mkdirs(tmp)
    val stats = store.scopedRecluster("tbl")
    assert(!fs.exists(tmp) && stats.rewrittenFiles >= 1)
    assert(spark.read.parquet(dir.toString).count() == 1010)
  }

  test("copy-on-write delete rewrites only files containing matches; " +
    "SQL null semantics; no-match and all-match edges hold") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cow_delete").toString
    val store = new Store(spark, base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    // k clustered over 8 files; a null-v stripe exercises delete's null rule
    val df = spark.range(8000).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 100).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 8)
    val before = triples()
    // matches live in a narrow k range -> only the file(s) covering it move
    val stats = store.deleteWhere("tbl", col("k").between(100, 299) && col("v") >= 50)
    assert(stats.filesTouched >= 1 && stats.filesTouched <= 3, stats.toString)
    assert(before.intersect(triples()).size == 8 - stats.filesTouched,
      "files without matches must stay byte/mtime-identical")
    val back = spark.read.parquet(dir.toString)
    // SQL semantics: TRUE rows gone, FALSE and NULL rows stay
    assert(back.count() == 8000 - stats.rowsDeleted)
    assert(back.where(col("k").between(100, 299) && col("v") >= 50).count() == 0)
    assert(back.where(col("k").between(100, 299) && col("v").isNull).count() == 20,
      "null-predicate rows must survive a delete")
    // skipping still holds for the rewritten region and elsewhere
    assert(back.where(col("k") < 600).select(input_file_name()).distinct().count() <= 3)
    // no-match delete is a full no-op, byte-level
    val t0 = triples()
    assert(store.deleteWhere("tbl", col("k") > 1000000).filesTouched == 0)
    assert(triples() == t0)
    // all-match delete on a plain (manifest-less) table empties it but
    // keeps it READABLE (Spark's empty write leaves one schema-only file)
    spark.range(100).select(col("id").as("k")).write.parquet(s"$base/plain")
    val all = store.deleteWhere("plain", lit(true))
    assert(all.rowsDeleted == 100)
    assert(spark.read.parquet(s"$base/plain").count() == 0)
    assert(spark.read.parquet(s"$base/plain").columns.toSeq == Seq("k"))
  }

  test("copy-on-write update rewrites only match-bearing files; SET references row " +
    "columns; null-predicate rows pass through; unknown SET column fails loudly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_cow_update").toString
    val store = new Store(spark, base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val df = spark.range(8000).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 100).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 8)
    val before = triples()
    val cond = col("k").between(100, 299) && col("v") >= 50
    val stats = store.updateWhere("tbl", cond, Map("v" -> (col("v") + col("k"))))
    assert(stats.filesTouched >= 1 && stats.filesTouched <= 3, stats.toString)
    assert(stats.rowsUpdated == df.where(cond).count())
    assert(before.intersect(triples()).size == 8 - stats.filesTouched,
      "files without matches must stay byte/mtime-identical")
    // content law: table == the same CASE-WHEN projection of the input
    val want = df.select(col("k"),
        when(coalesce(cond, lit(false)), col("v") + col("k")).otherwise(col("v")).as("v"))
      .collect().map(_.toString).sorted.toSeq
    val got = spark.read.parquet(dir.toString).collect().map(_.toString).sorted.toSeq
    assert(got == want, "update diverged from the CASE-WHEN oracle projection")
    // null-predicate rows (v null makes cond null) survive untouched
    assert(spark.read.parquet(dir.toString)
      .where(col("k").between(100, 299) && col("v").isNull).count() == 20)
    // unknown SET column fails before anything moves
    val t0 = triples()
    intercept[IllegalArgumentException] {
      store.updateWhere("tbl", lit(true), Map("nope" -> lit(1)))
    }
    assert(triples() == t0)
    // no-match update is a byte-level no-op
    assert(store.updateWhere("tbl", col("k") > 1000000, Map("v" -> lit(0L))).filesTouched == 0)
    assert(triples() == t0)
  }

  test("updateWhere moving a curve column lays the moved rows out as tightly as a " +
    "fresh writeZordered") {
    val base = Files.createTempDirectory("graft_cow_zmove").toString
    val store = new Store(spark, base)
    val n = 40000L
    store.writeZordered(spark.range(n).select(col("id").as("k"),
      pmod(col("id") * 37, lit(n)).as("v")), "tbl", Seq("k", "v"), files = 16)
    // half the keys move past every value the table held before the update
    store.updateWhere("tbl", col("k") < n / 2, Map("k" -> (col("k") + 1000000L)))
    store.writeZordered(store.readSnapshot("tbl"), "fresh", Seq("k", "v"), files = 16)
    // rows a narrow key probe inside the moved range must read: every row
    // of every file holding a match
    def rowsRead(rel: String, lo: Long): Long = {
      val t = spark.read.parquet(s"$base/$rel").withColumn("f", input_file_name())
      t.join(t.where(col("k") >= lo && col("k") < lo + 300).select("f").distinct(), "f").count()
    }
    Seq(1001000L, 1005000L, 1015000L).foreach { lo =>
      val (moved, fresh) = (rowsRead("tbl", lo), rowsRead("fresh", lo))
      assert(moved <= fresh * 3 / 2,
        s"probe at $lo reads $moved rows after the update, $fresh on a fresh layout")
    }
  }

  test("deleteWhere replays an interrupted manifest-less scoped journal before locating") {
    val base = Files.createTempDirectory("graft_cow_journal").toString
    val store = new Store(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plain table with a fabricated mid-journal crash: one file staged for
    // promotion, its original still listed for deletion, no manifest
    // section. The delete must drive the journal to completion BEFORE its
    // locate scan — otherwise the staged file's rows are invisible to the
    // rewrite and lost for good.
    spark.range(1000).select(col("id").as("k")).repartition(4).write.parquet(s"$base/plain")
    val dir = new org.apache.hadoop.fs.Path(s"$base/plain")
    val want = spark.read.parquet(dir.toString).where(col("k") >= 10)
      .collect().map(_.toString).sorted.toSeq
    val victim = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted.head
    val tmp = ScopedCommit.newStageDir(dir)
    fs.mkdirs(tmp)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir, victim),
      new org.apache.hadoop.fs.Path(tmp, victim)))
    ScopedCommit.write(fs, dir, renames = Seq(victim -> s"part-s9-$victim"),
      deletes = Seq(victim), manifest = None, stage = tmp)
    assert(store.deleteWhere("plain", col("k") < 10).rowsDeleted == 10)
    val got = spark.read.parquet(dir.toString).collect().map(_.toString).sorted.toSeq
    assert(got == want, "journal not replayed before the delete: rows lost or duplicated")
    assert(!graft.io.ScopedCommit.anyMarker(fs, dir))
    assert(!LayoutManifest.exists(fs, dir), "a manifest-less journal must not add a manifest")
  }

  test("appendZordered layout mismatch fails BEFORE any rows land") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_append_mismatch").toString
    val store = new Store(spark, base)
    val df = spark.range(1000).select(col("id").as("k"), (col("id") % 7).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(dir).map(st => (st.getPath.getName, st.getLen)).toSet
    intercept[IllegalArgumentException] {
      store.appendZordered(df.limit(10), "tbl", Seq("v", "k"), files = 2)
    }
    // fail-first: the mismatched batch must not be visible anywhere
    assert(fs.listStatus(dir).map(st => (st.getPath.getName, st.getLen)).toSet == before)
    assert(spark.read.parquet(dir.toString).count() == 1000)
  }

  test("an empty append lands a zero-row layer that cannot poison the scoped pass") {
    val base = Files.createTempDirectory("graft_empty_batch").toString
    val store = new Store(spark, base)
    val df = spark.range(2000).select(col("id").as("k"), (col("id") % 97).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = triples()
    // an upstream filter can drop every row of a batch: Spark still writes
    // one schema-only zero-row file, and it lands as the append layer
    store.appendZordered(df.where(lit(false)), "tbl", Seq("k", "v"), files = 4)
    val layer = LayoutManifest.read(fs, dir).get.appends.flatten
    assert(layer.size == 1 && spark.read.parquet(s"$dir/${layer.head}").count() == 0,
      s"expected one zero-row append file: $layer")
    // the scoped pass right after must keep every base file byte-identical
    // — before the zero-row guards a schema-only statless file intersected
    // EVERYTHING and degraded this into a full-table rewrite
    val stats = store.scopedRecluster("tbl")
    assert(stats.keptFiles == before.size && stats.rewrittenFiles == 1, stats.toString)
    assert(before.subsetOf(triples()), "a base file moved")
  }

  test("erosion statistic rises with append layers and gates maintainZordered") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_erosion").toString
    val store = new Store(spark, base)
    val df = spark.range(20000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(20000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 8)
    val fresh = store.erosionStats("tbl").touchedPerProbe
    // full-cover appends: each layer adds ~1 expected file per probe
    (0 until 3).foreach { i =>
      store.appendZordered(
        df.where(pmod(col("k"), lit(3)) === i), "tbl", Seq("k", "v"), files = 4)
    }
    val eroded = store.erosionStats("tbl")
    assert(eroded.appendLayers == 3)
    assert(eroded.touchedPerProbe >= fresh + 2.0,
      s"3 full-cover layers should add ~3 expected files: $fresh -> ${eroded.touchedPerProbe}")
    // the measurement persists as a manifest property
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(LayoutManifest.read(fs, new org.apache.hadoop.fs.Path(s"$base/tbl"))
      .get.touched.exists(_ >= fresh + 2.0))
    // the maintenance decision: above threshold -> optimize; below -> skip
    assert(store.maintainZordered("tbl", maxTouchedPerProbe = fresh + 1.0).nonEmpty)
    assert(store.maintainZordered("tbl", maxTouchedPerProbe = fresh + 1.0).isEmpty,
      "freshly optimized table should measure below the threshold")
  }

  test("recluster is a z-order replace write: adopts a plain directory at epoch 0, " +
    "retires a managed partitioned store's files, prunes emptied partition dirs, " +
    "refuses one column") {
    val base = Files.createTempDirectory("graft_recluster_replace").toString
    val store = new Store(spark, base)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dir(rel: String) = new org.apache.hadoop.fs.Path(s"$base/$rel")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // every entry under the base, as paths relative to it
    def entries(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(base)
      Files.walk(root).iterator().asScala.map(root.relativize(_).toString).toSeq
    }
    val df = spark.range(2000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(2000)).as("v"),
      timestamp_seconds(lit(1704067200L) + col("id") * 600).as("datetime"))

    // a plain parquet directory is adopted through the journal at epoch 0
    df.write.parquet(s"$base/plain")
    store.recluster("plain", Seq("k", "v"), files = 4)
    assert(rows(spark.read.parquet(s"$base/plain")) == rows(df))
    assert(store.listVersions("plain") == Seq(0L))
    val adopted = LayoutManifest.read(fs, dir("plain")).get
    assert(adopted.zCols == Seq("k", "v") && adopted.appends.isEmpty)
    assert(!ScopedCommit.anyMarker(fs, dir("plain")))

    // a managed partitioned store reshapes into the curve; its previous
    // epoch stays readable from the files the replace retired
    store.writePartitionedManaged(df, "part")                          // epoch 0
    val before = rows(store.readSnapshot("part"))
    store.recluster("part", Seq("k", "v"), files = 4)                 // epoch 1
    assert(rows(store.readSnapshot("part")) == before)
    assert(rows(store.readVersion("part", 0L)) == before)
    assert(LayoutManifest.read(fs, dir("part")).get.partCols.isEmpty)
    // no live file is left under a dt= dir, only the retired ones epoch 0 reads
    assert(entries().filter(_.startsWith("part/dt=")).forall(e =>
      !e.endsWith(".parquet") || e.contains(LayoutManifest.RetiredDirName)), entries())

    // a plain partitioned directory has no history: its files are
    // deleted and the emptied dt= dirs pruned
    df.withColumn("dt", Store.utcDay(col("datetime")))
      .write.partitionBy("dt").parquet(s"$base/plainpart")
    store.recluster("plainpart", Seq("k", "v"), files = 4)
    assert(spark.read.parquet(s"$base/plainpart").count() == 2000L)
    assert(!entries().exists(_.startsWith("plainpart/dt=")), entries())

    // one column is writeClustered's layout: refused, the table untouched
    intercept[IllegalArgumentException](store.recluster("plain", Seq("k"), files = 4))
    assert(store.listVersions("plain") == Seq(0L))
    assert(rows(spark.read.parquet(s"$base/plain")) == rows(df))
    assert(store.releaseStaleClaims("plain") == 0)

    // no park and no stage debris anywhere
    assert(!entries().exists(e => e.split('/').exists(n =>
      n.startsWith(".old_") || n.startsWith(ScopedCommit.TmpDirName))), entries())
  }

  test("orc sink/scan: lossless round trip; filters push into the orc scan") {
    val store = new Store(spark, Files.createTempDirectory("graft_orc").toString)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    store.writeOrc(docs, "docs_orc")
    // row-for-row, byte-for-byte identity (text included)
    val want = docs.collect().map(_.toString).sorted
    val got = store.readOrc("docs_orc").collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq)
    // the scale contract: a predicate on the read-back reaches the ORC
    // scan as a pushed filter (stripe/row-group skipping at 100 TB)
    val p = store.readOrc("docs_orc").where(col("doc_id") === 7L)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("IsNotNull(doc_id)"), p)
  }
}
