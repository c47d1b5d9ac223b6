package graft.sql

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.{LayoutManifest, ScopedCommit, Store}

/** The DSv2 catalog face: per-statement manifest resolution (current
  * epoch and `VERSION AS OF`), stock parquet pushdown through the
  * wrapped v2 table, read-only enforcement, and the mid-journal
  * exactness law that is the face's reason to exist.
  */
class GraftCatalogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("current-epoch reads resolve per statement: appends visible with no " +
    "re-registration; VERSION AS OF reads a pinned epoch; vacuumed stays loud") {
    val base = Files.createTempDirectory("graft_v2cat").toString
    val store = new Store(spark, base)
    val df = spark.range(3000).select(col("id").as("k"),
      pmod(col("id") * 31, lit(3000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4)       // epoch 0
    spark.conf.set("spark.sql.catalog.graft_t1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_t1.base", base)

    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_t1.tbl").head.getLong(0) == 3000)
    // a mutation is visible to the NEXT statement without any catalog
    // action — resolution happens per query (the pinned-view face needs
    // its re-pin; this face re-reads the pointer every time)
    store.appendZordered(
      spark.range(3000, 3200).select(col("id").as("k"), (col("id") % 7).as("v")),
      "tbl", Seq("k", "v"), files = 1)                             // epoch 1
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_t1.tbl").head.getLong(0) == 3200)

    // time travel through real SQL syntax: epoch 0 is the pre-append table
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_t1.tbl VERSION AS OF 0").head.getLong(0) == 3000)
    // content, not just counts — and the epoch survives a full recluster
    // (files retire; resolution follows them)
    val sum0 = df.agg(sum("v")).head.getLong(0)
    store.recluster("tbl", Seq("k", "v"), files = 2)               // epoch 2
    assert(spark.sql(
      "SELECT SUM(v) AS s FROM graft_t1.tbl VERSION AS OF 0").head.getLong(0) == sum0)

    // a vacuumed epoch fails loudly through SQL, exactly like readVersion
    store.vacuum("tbl", keepLast = 1)
    val err = intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM graft_t1.tbl VERSION AS OF 0").collect()
    }
    assert(err.getMessage.contains("not readable"), err.getMessage)
    // a non-numeric version is a clear argument error, not a scan failure
    val err2 = intercept[Exception] {
      spark.sql("SELECT COUNT(*) FROM graft_t1.tbl VERSION AS OF 'abc'").collect()
    }
    assert(err2.getMessage.contains("EPOCH"), err2.getMessage)
  }

  test("pushdown survives the catalog: PushedFilters in the v2 scan and the " +
    "z-layout's file subset; writes and DDL are refused loudly") {
    val base = Files.createTempDirectory("graft_v2cat_push").toString
    val store = new Store(spark, base)
    store.writeZordered(graft.Tables.events(spark, "/root/testdata/sf0.001"),
      "events_z", Seq("user_id", "ts"), files = 16)
    spark.conf.set("spark.sql.catalog.graft_t2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_t2.base", base)

    val filtered = spark.sql(
      "SELECT * FROM graft_t2.events_z WHERE user_id BETWEEN 40 AND 49")
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("user_id"), plan)
    val touched = filtered.select(input_file_name()).distinct().count()
    assert(touched <= 8, s"catalog read touched $touched of 16 z-files — skipping lost")
    assert(spark.sql("SELECT * FROM graft_t2.events_z").select(input_file_name())
      .distinct().count() == 16)

    // read-only: INSERT fails at analysis (no BATCH_WRITE capability),
    // DDL fails with the catalog's own read-only message
    val e1 = intercept[Exception] {
      spark.sql("INSERT INTO graft_t2.events_z SELECT * FROM graft_t2.events_z LIMIT 1")
    }
    assert(e1.getMessage.toLowerCase.contains("does not support") ||
      e1.getMessage.contains("read-only"), e1.getMessage)
    val e2 = intercept[Exception] { spark.sql("DROP TABLE graft_t2.events_z") }
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
    // a manifest-less dir is not served (listing semantics live in
    // registerCatalog); a missing path is the ordinary NOT_FOUND
    spark.range(10).write.parquet(s"$base/plain")
    val e3 = intercept[Exception] { spark.sql("SELECT * FROM graft_t2.plain").collect() }
    assert(e3.getMessage.contains("layout manifest"), e3.getMessage)
    val e4 = intercept[Exception] { spark.sql("SELECT * FROM graft_t2.nope").collect() }
    assert(e4.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND") ||
      e4.getMessage.toLowerCase.contains("cannot be found") ||
      e4.getMessage.toLowerCase.contains("not found"), e4.getMessage)
    // SHOW TABLES lists exactly the manifest-tracked stores: the z-table
    // appears, the plain parquet dir (which loadTable refuses) does not
    val shown = spark.sql("SHOW TABLES IN graft_t2").collect()
      .map(_.getString(1)).toSet
    assert(shown.contains("events_z") && !shown.contains("plain"), shown.toString)
  }

  test("v2 DELETE routes through the journaled COW: translatable predicates " +
    "retire files under the epoch CAS; untranslatable ones stay loud and untouched") {
    val base = Files.createTempDirectory("graft_v2del").toString
    val store = new Store(spark, base)
    val df = spark.range(8000).select(col("id").as("k"),
      pmod(col("id") * 37, lit(8000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 8)        // epoch 0
    spark.conf.set("spark.sql.catalog.graft_d1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_d1.base", base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = triples()

    spark.sql("DELETE FROM graft_d1.tbl WHERE k >= 7000 AND v IS NOT NULL")
    val gone = df.where(col("k") >= 7000 && col("v").isNotNull).count()
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_d1.tbl").head.getLong(0) ==
      8000 - gone)
    // scoped: the k-range delete keeps out-of-range files byte/mtime-identical
    val after = triples()
    assert(before.intersect(after).nonEmpty && (before -- after).nonEmpty)
    // the v2 DELETE RETIRED, not deleted: epoch 0 reads back in full, and
    // the CAS was released (the next mutator works)
    assert(store.readVersion("tbl", 0L).count() == 8000)
    store.deleteWhere("tbl", col("k") < 10)                          // epoch 2
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_d1.tbl").head.getLong(0) ==
      8000 - gone - 10)

    // TRUNCATE TABLE rides the same journaled COW (SupportsDeleteV2's
    // truncate = delete-everything): the table reads back empty but the
    // pre-truncate epochs stay readable — a recoverable truncate
    spark.sql("TRUNCATE TABLE graft_d1.tbl")
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_d1.tbl").head.getLong(0) == 0)
    assert(store.readVersion("tbl", 0L).count() == 8000,
      "truncate must retire, not delete — epoch 0 stays readable")
    // restore content for the untranslatable-predicate check below:
    // verify the table still ACCEPTS mutations post-truncate
    store.deleteWhere("tbl", org.apache.spark.sql.functions.lit(false))

    // an untranslatable condition (arithmetic the v1 Filter surface can't
    // carry) fails LOUDLY with the table untouched
    val cnt = spark.sql("SELECT COUNT(*) AS n FROM graft_d1.tbl").head.getLong(0)
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft_d1.tbl WHERE k % 2 = 0")
    }
    assert(e.getMessage.toLowerCase.contains("delete") ||
      e.getMessage.toLowerCase.contains("translate"), e.getMessage)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_d1.tbl").head.getLong(0) == cnt,
      "refused DELETE must not mutate")
  }

  test("v2 UPDATE and MERGE INTO route through the journaled COW: graft.t " +
    "idents get the full DML surface on the same CAS'd retire-backed core") {
    graft.GraftExtensions.register(spark) // the DML router is an extension rule
    val base = Files.createTempDirectory("graft_v2upd").toString
    val store = new Store(spark, base)
    val df = spark.range(6000).select(col("id").as("k"),
      pmod(col("id") * 13, lit(6000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 6)        // epoch 0
    spark.conf.set("spark.sql.catalog.graft_u1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_u1.base", base)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def triples() = fs.listStatus(dir).filter(st => st.isFile &&
        !st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime)).toSet
    val before = triples()

    // UPDATE through the catalog ident: scoped COW (out-of-range files
    // byte/mtime-identical), retire-backed (epoch 0 reads back in full)
    spark.sql("UPDATE graft_u1.tbl SET v = v + 1000000 WHERE k >= 5500")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_u1.tbl WHERE v >= 1000000").head.getLong(0) ==
      df.where(col("k") >= 5500).count())
    val after = triples()
    assert(before.intersect(after).nonEmpty && (before -- after).nonEmpty,
      "v2 UPDATE must be scoped to match-bearing files")
    assert(store.readVersion("tbl", 0L).count() == 6000)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_u1.tbl VERSION AS OF 0 WHERE v >= 1000000")
      .head.getLong(0) == 0, "epoch 0 must predate the v2 UPDATE")

    // MERGE INTO through the catalog ident: tombstone-delete + upsert +
    // gated insert, one retire-backed epoch
    spark.range(5998, 6004)
      .select(col("id").as("mk"), (col("id") * 2).as("mv"),
        (col("id") % 2 === 0).as("del"))
      .createOrReplaceTempView("graft_u1_src")
    spark.sql("""
      MERGE INTO graft_u1.tbl t USING graft_u1_src s ON t.k = s.mk
      WHEN MATCHED AND s.del THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.mv
      WHEN NOT MATCHED AND NOT s.del THEN INSERT (k, v) VALUES (s.mk, s.mv)
    """)
    // 5998 deleted (del), 5999 updated to 11998; 6000/6002 are del-gated
    // ghosts (no insert); 6001/6003 insert
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_u1.tbl WHERE k = 5998").head.getLong(0) == 0)
    assert(spark.sql(
      "SELECT v FROM graft_u1.tbl WHERE k = 5999").head.getLong(0) == 11998L)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_u1.tbl WHERE k IN (6000, 6002)")
      .head.getLong(0) == 0)
    assert(spark.sql(
      "SELECT SUM(v) AS s FROM graft_u1.tbl WHERE k IN (6001, 6003)")
      .head.getLong(0) == 6001L * 2 + 6003L * 2)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_u1.tbl").head.getLong(0) ==
      6000 - 1 + 2)
    // the whole merge is ONE epoch; every prior epoch stays readable
    assert(store.listVersions("tbl") == Seq(0L, 1L, 2L))
    assert(store.readVersion("tbl", 1L).where(col("k") === 5998).count() == 1)

    // the CAS still guards the v2 DML face: a held claim blocks it loudly
    val o = fs.create(LayoutManifest.claimPath(dir, 3L), false)
    o.write("other-writer".getBytes("UTF-8")); o.close()
    intercept[Exception] {
      spark.sql("UPDATE graft_u1.tbl SET v = 0 WHERE k = 1")
    }
    assert(fs.delete(LayoutManifest.claimPath(dir, 3L), false))
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_u1.tbl WHERE v = 0 AND k = 1")
      .head.getLong(0) == 0, "a CAS-blocked v2 UPDATE must not mutate")
  }

  test("CALL procedures run the maintenance loop from pure SQL: optimize is " +
    "scoped, vacuum reclaims, erosion measures, maintain gates on its triggers, " +
    "stale claims release; unknown procedures stay loud") {
    val base = Files.createTempDirectory("graft_v2proc").toString
    val store = new Store(spark, base)
    val df = spark.range(4000).select(col("id").as("k"),
      pmod(col("id") * 17, lit(4000)).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 4)        // epoch 0
    // erode for real: a full-key-space append intersects every base rect
    store.appendZordered(
      spark.range(0, 4000, 40).select(col("id").as("k"), (col("id") % 9).as("v")),
      "tbl", Seq("k", "v"), files = 1)                              // epoch 1
    spark.conf.set("spark.sql.catalog.graft_pc1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_pc1.base", base)

    // measure-only: erosion reports the append layer without moving bytes
    val er = spark.sql("CALL graft_pc1.erosion('tbl')").head
    assert(er.getInt(0) == 4 && er.getInt(1) == 1 && er.getInt(2) == 1,
      er.toString)
    assert(er.getDouble(3) > 1.0, "a full-cover append must erode")

    // optimize = the scoped pass: every append file rewritten, the read
    // stays exact, the epoch advances (CALL via the system namespace too)
    val opt = spark.sql("CALL graft_pc1.system.optimize('tbl')").head
    assert(opt.getInt(1) > 0 && opt.getInt(2) > 0, opt.toString)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_pc1.tbl").head.getLong(0) == 4100)

    // vacuum down to the current epoch: retired bytes reclaimed, old
    // epochs loud — the stats row says what went
    val vac = spark.sql("CALL graft_pc1.vacuum('tbl', 1)").head
    assert(vac.getInt(2) > 0 && vac.getLong(3) > 0L, vac.toString)
    intercept[Exception] { store.readVersion("tbl", 0L) }

    // maintain below its triggers is a measured NO-OP; a crashed claim
    // releases through SQL
    val mt = spark.sql(
      "CALL graft_pc1.maintain('tbl', 1000.0, 1000, 1000.0, 1)").head
    assert(!mt.getBoolean(0) && !mt.getBoolean(2), mt.toString)
    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = LayoutManifest.read(fs, dir).get
    val oc = fs.create(LayoutManifest.claimPath(dir, m.epoch + 5), false)
    oc.write("dead".getBytes); oc.close()
    assert(spark.sql("CALL graft_pc1.release_stale_claims('tbl')")
      .head.getInt(0) == 1)

    // discovery + refusals: SHOW PROCEDURES lists the surface; unknown
    // names and bad arg types are loud
    val shown = spark.sql("SHOW PROCEDURES IN graft_pc1").collect().map(_.toString)
    assert(shown.exists(_.contains("vacuum")) && shown.exists(_.contains("maintain")),
      shown.mkString(","))
    // proper not-found CLASSIFICATION (r19 ADVICE): unknown procedure
    // names and namespaces surface as ROUTINE_NOT_FOUND AnalysisExceptions
    // (4.1.2's NoSuchProcedureException-equivalent), not internal errors
    def routineNotFound(e: Throwable): Boolean = {
      val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).toSeq
      chain.exists {
        case ae: org.apache.spark.sql.AnalysisException =>
          ae.getCondition == "ROUTINE_NOT_FOUND"
        case _ => false
      }
    }
    val eUnknown = intercept[Exception] {
      spark.sql("CALL graft_pc1.compact_everything('tbl')")
    }
    assert(routineNotFound(eUnknown), eUnknown.toString)
    val eBadNs = intercept[Exception] {
      spark.sql("CALL graft_pc1.nowhere.vacuum('tbl', 1)")
    }
    assert(routineNotFound(eBadNs), eBadNs.toString)
  }

  test("$history metadata table lists readable epochs; SQL-only epoch " +
    "discovery feeds VERSION AS OF; write-shaped DDL stays refused") {
    val base = Files.createTempDirectory("graft_v2hist").toString
    val store = new Store(spark, base)
    val df = spark.range(2000).select(col("id").as("k"), (col("id") % 29).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)        // epoch 0
    store.appendZordered(
      spark.range(2000, 2100).select(col("id").as("k"), (col("id") % 29).as("v")),
      "tbl", Seq("k", "v"), files = 1)                              // epoch 1
    store.deleteWhere("tbl", col("k") < 100)                        // epoch 2
    spark.conf.set("spark.sql.catalog.graft_h1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_h1.base", base)

    val hist = spark.sql(
      "SELECT version, files, is_current FROM graft_h1.`tbl$history` ORDER BY version")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L), hist.mkString(","))
    assert(hist.map(_.getBoolean(2)).toSeq == Seq(false, false, true))
    assert(hist.forall(_.getInt(1) > 0))
    // committed_at is a real timestamp and non-decreasing across epochs
    val ts = spark.sql(
      "SELECT committed_at FROM graft_h1.`tbl$history` ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts.size == 3 && ts == ts.sorted && ts.head > 0L)

    // pure-SQL end-to-end: discover the oldest epoch, time-travel to it
    val oldest = spark.sql(
      "SELECT MIN(version) AS v FROM graft_h1.`tbl$history`").head.getLong(0)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM graft_h1.tbl VERSION AS OF $oldest")
      .head.getLong(0) == 2000)
    // TIMESTAMP AS OF maps wall-clock -> newest epoch at-or-before it
    // (the same commit times $history reports); before-first stays loud
    val t0 = spark.sql(
      "SELECT committed_at FROM graft_h1.`tbl$history` WHERE version = 0")
      .head.getTimestamp(0)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM graft_h1.tbl TIMESTAMP AS OF '$t0' WHERE k < 100")
      .head.getLong(0) == 100, "epoch 0 still holds the later-deleted slice")
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_h1.tbl TIMESTAMP AS OF '2099-01-01' WHERE k < 100")
      .head.getLong(0) == 0, "a far-future timestamp reads the current epoch")
    val eTs = intercept[Exception] {
      spark.sql(
        "SELECT COUNT(*) FROM graft_h1.tbl TIMESTAMP AS OF '1990-01-01'").collect()
    }
    assert(eTs.getMessage.contains("no epoch"), eTs.getMessage)
    // a same-epoch maintenance refresh must not shift an epoch's
    // wall-clock identity: committed_at is stamped INSIDE the snapshot at
    // commit (not derived from file mtimes, which the refresh bumps), so
    // a timestamp that resolved to the current epoch keeps doing so
    val t2 = spark.sql(
      "SELECT committed_at FROM graft_h1.`tbl$history` WHERE version = 2")
      .head.getTimestamp(0)
    val curN = spark.sql("SELECT COUNT(*) AS n FROM graft_h1.tbl").head.getLong(0)
    store.erosionStats("tbl") // rewrites v2's snapshot (stat cache)
    assert(spark.sql(
      s"SELECT COUNT(*) AS n FROM graft_h1.tbl TIMESTAMP AS OF '$t2'")
      .head.getLong(0) == curN,
      "TIMESTAMP AS OF must be stable across same-epoch maintenance")
    // vacuum shrinks the listing to what is still readable
    store.vacuum("tbl", keepLast = 1)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_h1.`tbl$history`")
      .head.getLong(0) == 1)
    // a history ident over a missing store is the ordinary NOT_FOUND
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_h1.`nope$history`").collect()
    }

    // two scans built over one loaded table compare EQUAL (the wrapper
    // delegates identity to the stock parquet scan) — scan/exchange reuse
    // depends on it
    val cat = spark.sessionState.catalogManager.catalog("graft_h1")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], "tbl"))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
    def mkScan() = t.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    assert(mkScan() == mkScan() && mkScan().hashCode() == mkScan().hashCode(),
      "wrapper scans must compare by wrapped-scan identity")

    // write-shaped DDL guards (a future Spark growing new entry points
    // must not silently write around the CAS): CTAS and ALTER refuse
    val e1 = intercept[Exception] {
      spark.sql("CREATE TABLE graft_h1.ctas AS SELECT 1 AS x")
    }
    assert(e1.getMessage.contains("read-only"), e1.getMessage)
    // ALTER TABLE ADD COLUMN is the ONE admitted DDL since r20 (schema
    // evolution — SchemaEvolutionSpec owns its laws); every other ALTER
    // shape stays refused
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_h1.tbl DROP COLUMN v")
    }
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("REPLACE TABLE graft_h1.tbl AS SELECT 1 AS x")
    }
    assert(e3.getMessage.contains("read-only") ||
      e3.getMessage.toLowerCase.contains("not support"), e3.getMessage)
  }

  test("managed PARTITIONED stores through the catalog: dt reconstructs on " +
    "current and versioned reads, partition pruning holds, v2 DELETE retires") {
    val base = Files.createTempDirectory("graft_v2part").toString
    val store = new Store(spark, base)
    val df = spark.range(4000).select(
      to_timestamp(concat(lit("2024-08-0"), (col("id") % 4 + 1), lit(" 11:00:00")))
        .as("datetime"),
      col("id").as("k"), (col("id") % 100).cast("double").as("v"))
    store.writePartitionedManaged(df, "ptbl")                       // epoch 0
    spark.conf.set("spark.sql.catalog.graft_p1", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_p1.base", base)

    val cur = spark.sql("SELECT * FROM graft_p1.ptbl")
    assert(cur.columns.contains("dt"))
    assert(cur.count() == 4000)
    // partition pruning through the v2 scan: a dt filter touches only its
    // partition's files
    val pruned = spark.sql(
      "SELECT * FROM graft_p1.ptbl WHERE dt = DATE'2024-08-02'")
    val files = pruned.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(files.nonEmpty && files.forall(_.contains("dt=2024-08-02")), files.toString)

    // v2 DELETE on the partitioned store retires; VERSION AS OF 0 serves
    // the pre-delete table with dt intact across nested-retired files
    spark.sql("DELETE FROM graft_p1.ptbl WHERE dt = DATE'2024-08-02' AND v < 50")
    val gone = df.where(to_date(col("datetime")) === lit("2024-08-02").cast("date")
      && col("v") < 50).count()
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_p1.ptbl").head.getLong(0) ==
      4000 - gone)
    val v0 = spark.sql("SELECT * FROM graft_p1.ptbl VERSION AS OF 0")
    assert(v0.columns.contains("dt") && v0.count() == 4000)
    assert(spark.sql(
      "SELECT CAST(COUNT(DISTINCT dt) AS BIGINT) AS d FROM graft_p1.ptbl VERSION AS OF 0")
      .head.getLong(0) == 4)
  }

  test("mid-journal exactness: the catalog serves the committed epoch while " +
    "the live listing shows duplicates") {
    val base = Files.createTempDirectory("graft_v2cat_midj").toString
    val store = new Store(spark, base)
    val df = spark.range(1000).select(col("id").as("k"), (col("id") % 13).as("v"))
    store.writeZordered(df, "tbl", Seq("k", "v"), files = 2)       // epoch 0
    spark.conf.set("spark.sql.catalog.graft_t3", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_t3.base", base)
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_t3.tbl").head.getLong(0) == 1000)

    val dir = new org.apache.hadoop.fs.Path(s"$base/tbl")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // manufacture MID-REPLAY (the TimeTravelSpec shape): journal written,
    // promoted copy renamed IN, original not yet retired
    val victim = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("part-")).sorted.head
    val victimRows = spark.read.parquet(s"$dir/$victim").count()
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
    assert(spark.read.parquet(dir.toString).count() == 1000 + victimRows,
      "test setup must manufacture the duplicate window")

    // the catalog resolves the manifest, recovers the journal on entry,
    // and serves one committed epoch — never the duplicate listing
    assert(spark.sql("SELECT COUNT(*) AS n FROM graft_t3.tbl").head.getLong(0) == 1000,
      "v2 catalog read leaked mid-journal duplicates")
    assert(rows(spark.sql("SELECT * FROM graft_t3.tbl")) == rows(df))
  }

  test("runtime v2 filtering: a dimension join dynamic-partition-prunes the " +
    "graft scan to the joined days' files — a capability stock v2 parquet lacks") {
    val base = Files.createTempDirectory("graft_dpp").toString
    val store = new Store(spark, base)
    val fact = spark.range(1000).select(col("id").as("k"),
      expr("timestamp'2024-07-01 00:00:00' + make_interval(0,0,0,cast(id % 5 as int),0,0,0)").as("ts"),
      (col("id") % 7).cast("double").as("value"))
    store.writePartitionedManaged(fact.repartition(3), "fact", tsCol = "ts")
    spark.conf.set("spark.sql.catalog.graft_dpp", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dpp.base", base)
    spark.range(5).select(
      expr("date_add(date'2024-07-01', cast(id as int))").as("dt"),
      concat(lit("t"), col("id")).as("tag"))
      .createOrReplaceTempView("graft_dpp_dim")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = spark.sql(
        """SELECT f.dt, COUNT(*) AS n, ROUND(SUM(f.value), 2) AS sv
          |FROM graft_dpp.fact f JOIN graft_dpp_dim d ON f.dt = d.dt
          |WHERE d.tag = 't2'
          |GROUP BY f.dt""".stripMargin)
      val out = q.collect()
      assert(out.length == 1 && out.head.getLong(1) == 200, out.mkString(","))
      // the planner planted a DPP subquery against the graft scan (stock
      // v2 parquet has no SupportsRuntimeV2Filtering — this is the new
      // capability), and the re-planned scan lists ONLY the joined day
      val planStr = q.queryExecution.executedPlan.toString
      assert(planStr.toLowerCase.contains("dynamicpruning"), planStr)
      val scans = q.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
      val graftScans = scans.map(_.scan).collect {
        case g: org.apache.spark.sql.graftshim.GraftStreamingScan => g
      }
      assert(graftScans.nonEmpty, scans.map(_.scan.getClass.getName).mkString(","))
      val files = graftScans.head.toBatch.planInputPartitions().toSeq.flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
          fp.files.toSeq
        case _ => Nil
      }
      assert(files.nonEmpty &&
        files.forall(_.filePath.toString.contains("dt=2024-07-03")),
        s"scan must prune to the joined day: ${files.map(_.filePath).mkString("\n")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }
}
