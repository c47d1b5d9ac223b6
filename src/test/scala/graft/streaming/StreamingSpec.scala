package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("epoch-changelog stream over a manifest store: one batch per epoch, " +
    "batch-identical to the epoch deltas, rewrite epochs refuse loudly") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_st5").toString
    val store = new graft.io.Store(spark, base)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 17).as("v"))
    store.writeZordered(mk(0, 1000), "tbl", Seq("k", "v"), files = 2)   // epoch 0
    spark.conf.set("spark.sql.catalog.graft_st5t", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_st5t.base", base)

    val q = spark.readStream.table("graft_st5t.tbl")
      .writeStream.format("memory").queryName("st5_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5_ck").toString)
      .start()
    try {
      q.processAllAvailable()
      // first batch = the full epoch-0 file set
      assert(spark.table("st5_sink").count() == 1000)
      // each committed append epoch arrives as ITS OWN delta — no re-reads
      // of old files, no misses
      store.appendZordered(mk(1000, 1200), "tbl", Seq("k", "v"), files = 1) // epoch 1
      q.processAllAvailable()
      assert(spark.table("st5_sink").count() == 1200)
      store.appendZordered(mk(1200, 1250), "tbl", Seq("k", "v"), files = 1) // epoch 2
      q.processAllAvailable()
      val got = spark.table("st5_sink").select("k", "v").as[(Long, Long)]
        .collect().sorted.toSeq
      val want = mk(0, 1250).as[(Long, Long)].collect().sorted.toSeq
      assert(got == want, "stream must deliver exactly the table, once")

      // a REWRITE epoch (recluster drops epoch-2 files) must fail the
      // stream loudly — replaying rewritten rows as inserts would
      // duplicate downstream
      store.recluster("tbl", Seq("k", "v"), files = 2)                   // epoch 3
      val err = intercept[Exception] { q.processAllAvailable() }
      def chain(e: Throwable): Seq[String] =
        if (e == null) Nil else Option(e.getMessage).toSeq ++ chain(e.getCause)
      assert(chain(err).exists(_.contains("REWRITE")), chain(err).mkString(" | "))
    } finally q.stop()

    // offset json round-trips (checkpoint durability shape)
    val off = graft.sql.GraftEpochOffset(7L)
    assert(graft.sql.GraftEpochOffset.fromJson(off.json()) == off)
    intercept[IllegalArgumentException] {
      graft.sql.GraftEpochOffset.fromJson("""{"foo":1}""")
    }

  }

  test("epoch stream over a MANAGED PARTITIONED store: new-day upserts are " +
    "append epochs with dt reconstructed; re-upserting a day refuses; " +
    "maxEpochsPerTrigger paces catch-up") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_st5p").toString
    val store = new graft.io.Store(spark, base)
    def day(d: String, lo: Long, hi: Long) = spark.range(lo, hi).select(
      to_timestamp(lit(s"$d 10:00:00")).as("datetime"),
      col("id").as("k"), (col("id") % 5).cast("double").as("v"))
    store.writePartitionedManaged(day("2024-09-01", 0, 100), "ptbl") // epoch 0
    spark.conf.set("spark.sql.catalog.graft_st5p", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_st5p.base", base)

    val q = spark.readStream.table("graft_st5p.ptbl")
      .writeStream.format("memory").queryName("st5p_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5p_ck").toString)
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table("st5p_sink")
      assert(first.columns.contains("dt"), first.columns.mkString(","))
      assert(first.count() == 100)
      // the daily ingest shape: each NEW day is an append epoch
      store.upsertPartitionsManaged(day("2024-09-02", 100, 150), "ptbl") // epoch 1
      q.processAllAvailable()
      val sunk = spark.table("st5p_sink")
      assert(sunk.count() == 150)
      assert(sunk.where(col("dt") === lit("2024-09-02").cast("date")).count() == 50,
        "the delta batch must carry its reconstructed partition value")
      // RE-upserting an existing day retires its files — a rewrite epoch,
      // refused loudly
      store.upsertPartitionsManaged(day("2024-09-02", 200, 210), "ptbl") // epoch 2
      val err = intercept[Exception] { q.processAllAvailable() }
      def chain(e: Throwable): Seq[String] =
        if (e == null) Nil else Option(e.getMessage).toSeq ++ chain(e.getCause)
      assert(chain(err).exists(_.contains("REWRITE")), chain(err).mkString(" | "))
    } finally q.stop()

    // pacing: a stream starting against a 3-epoch history with
    // maxEpochsPerTrigger=1 advances one epoch per micro-batch instead of
    // one giant first batch — and still delivers everything
    val base2 = Files.createTempDirectory("graft_st5q").toString
    val store2 = new graft.io.Store(spark, base2)
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") % 17).as("v"))
    store2.writeZordered(mk(0, 300), "tbl", Seq("k", "v"), files = 2)    // epoch 0
    store2.appendZordered(mk(300, 400), "tbl", Seq("k", "v"), files = 1) // epoch 1
    store2.appendZordered(mk(400, 450), "tbl", Seq("k", "v"), files = 1) // epoch 2
    spark.conf.set("spark.sql.catalog.graft_st5q", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_st5q.base", base2)
    val q2 = spark.readStream
      .option("maxEpochsPerTrigger", "1")
      .table("graft_st5q.tbl")
      .writeStream.format("memory").queryName("st5q_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5q_ck").toString)
      .start()
    try {
      q2.processAllAvailable()
      assert(spark.table("st5q_sink").count() == 450)
      val batches = q2.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length >= 3,
        s"expected one micro-batch per epoch, got ${batches.length}")
      assert(batches.map(_.numInputRows).toSeq == Seq(300L, 100L, 50L),
        batches.map(_.numInputRows).mkString(","))
    } finally q2.stop()

    // file-count pacing: epoch 0 carries 2 files, epochs 1/2 one each.
    // maxFilesPerTrigger=2 admits whole epochs while the delta-file
    // budget lasts (epoch 0 alone exhausts it; epochs 1+2 fit together),
    // and a first epoch larger than the budget still advances the stream
    val q3 = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .table("graft_st5q.tbl")
      .writeStream.format("memory").queryName("st5r_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5r_ck").toString)
      .start()
    try {
      q3.processAllAvailable()
      assert(spark.table("st5r_sink").count() == 450)
      val batches = q3.recentProgress.filter(_.numInputRows > 0)
      assert(batches.map(_.numInputRows).toSeq == Seq(300L, 150L),
        batches.map(_.numInputRows).mkString(","))
    } finally q3.stop()
    // an explicit ReadAllAvailable limit (Trigger.Once's contract)
    // OVERRIDES the pacing: capping it would strand the epochs past the
    // cap when the single-batch query terminates
    val allStream = new graft.sql.GraftEpochStream(spark, base2, "tbl",
      spark.read.parquet(s"$base2/tbl").schema,
      spark.read.parquet(s"$base2/tbl").schema,
      basePath = None, maxEpochsPerTrigger = Some(1))
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val cur = allStream.latestOffset().asInstanceOf[graft.sql.GraftEpochOffset].epoch
    assert(allStream.latestOffset(graft.sql.GraftEpochOffset(-1L),
      ReadLimit.allAvailable()).asInstanceOf[graft.sql.GraftEpochOffset].epoch == cur,
      "Trigger.Once (allAvailable) must deliver everything despite pacing options")
    assert(allStream.latestOffset(graft.sql.GraftEpochOffset(-1L),
      allStream.getDefaultReadLimit()).asInstanceOf[graft.sql.GraftEpochOffset].epoch == 0L,
      "the default (paced) limit steps one epoch")

    // a paced FRESH stream over a table whose early history was vacuumed
    // anchors its first batch at the oldest still-readable epoch instead
    // of crashing on the vacuumed one
    store2.deleteWhere("tbl", col("k") < 5)                             // epoch 3
    store2.vacuum("tbl", keepLast = 2)                                  // keeps 2, 3
    val q4 = spark.readStream
      .option("maxEpochsPerTrigger", "1")
      .option("maxFilesPerTrigger", "100")
      .table("graft_st5q.tbl")
      .writeStream.format("memory").queryName("st5s_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5s_ck").toString)
      .start()
    try {
      // batch 1 anchors at epoch 2 (the oldest readable) and delivers its
      // full 450-row file set; batch 2 (epoch 3, a COW-delete REWRITE)
      // then refuses loudly — the documented append-only line. What must
      // NOT appear anywhere is "not readable": that is the vacuumed-epoch
      // startup crash this law exists to prevent.
      val e4 = intercept[Exception] { q4.processAllAvailable() }
      def c(x: Throwable): Seq[String] =
        if (x == null) Nil else Option(x.getMessage).toSeq ++ c(x.getCause)
      assert(c(e4).exists(_.contains("REWRITE")) &&
        !c(e4).exists(_.contains("not readable")), c(e4).mkString(" | "))
      assert(spark.table("st5s_sink").count() == 450,
        "the paced fresh start must anchor at the oldest readable epoch")
    } finally q4.stop()

    // a zero/negative cap is loud, not a silent freeze (same law as
    // maxEpochsPerTrigger)
    val eBad = intercept[Exception] {
      spark.readStream.option("maxFilesPerTrigger", "0")
        .table("graft_st5q.tbl")
        .writeStream.format("memory").queryName("st5r_bad")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_st5r_bk").toString)
        .start().processAllAvailable()
    }
    def chain2(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ chain2(e.getCause)
    assert(chain2(eBad).exists(_.contains("maxFilesPerTrigger")),
      chain2(eBad).mkString(" | "))

    // startingEpoch anchors a NEW checkpoint (Delta's startingVersion
    // shape): "2" delivers epochs 2.. only; "latest" delivers only what
    // commits after the stream starts. Fresh table — anchors need their
    // predecessor snapshots readable.
    val base3 = Files.createTempDirectory("graft_st5t").toString
    val store3 = new graft.io.Store(spark, base3)
    store3.writeZordered(mk(0, 300), "tbl", Seq("k", "v"), files = 2)    // epoch 0
    store3.appendZordered(mk(300, 400), "tbl", Seq("k", "v"), files = 1) // epoch 1
    store3.appendZordered(mk(400, 450), "tbl", Seq("k", "v"), files = 1) // epoch 2
    spark.conf.set("spark.sql.catalog.graft_st5se", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_st5se.base", base3)
    val q5 = spark.readStream
      .option("startingEpoch", "2")
      .table("graft_st5se.tbl")
      .writeStream.format("memory").queryName("st5t_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5t_ck").toString)
      .start()
    try {
      q5.processAllAvailable()
      assert(spark.table("st5t_sink").select("k").as[Long].collect().sorted.toSeq ==
        (400L until 450L).toSeq, "startingEpoch=2 must deliver exactly epoch 2's delta")
    } finally q5.stop()
    val q6 = spark.readStream
      .option("startingEpoch", "latest")
      .table("graft_st5se.tbl")
      .writeStream.format("memory").queryName("st5u_sink")
      .option("checkpointLocation", Files.createTempDirectory("graft_st5u_ck").toString)
      .start()
    try {
      q6.processAllAvailable()
      assert(spark.table("st5u_sink").count() == 0,
        "startingEpoch=latest must skip the existing table")
      store3.appendZordered(mk(450, 460), "tbl", Seq("k", "v"), files = 1) // epoch 3
      q6.processAllAvailable()
      assert(spark.table("st5u_sink").select("k").as[Long].collect().sorted.toSeq ==
        (450L until 460L).toSeq, "only the post-start epoch arrives")
    } finally q6.stop()
    val eSe = intercept[Exception] {
      spark.readStream.option("startingEpoch", "nope").table("graft_st5se.tbl")
        .writeStream.format("memory").queryName("st5v_sink")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_st5v_ck").toString)
        .start().processAllAvailable()
    }
    assert(chain2(eSe).exists(_.contains("startingEpoch")),
      chain2(eSe).mkString(" | "))
    // an anchor BEYOND current+1 fails at stream start with a
    // startingEpoch-named message (r19 ADVICE: before the guard it
    // surfaced as an unrelated "epoch N-1 not readable" later on)
    val eAhead = intercept[Exception] {
      spark.readStream.option("startingEpoch", "99").table("graft_st5se.tbl")
        .writeStream.format("memory").queryName("st5w_sink")
        .option("checkpointLocation",
          Files.createTempDirectory("graft_st5w_ck").toString)
        .start().processAllAvailable()
    }
    assert(chain2(eAhead).exists(m =>
      m.contains("startingEpoch") && m.contains("beyond")),
      chain2(eAhead).mkString(" | "))
  }

  test("hourly windowed aggregate over a file stream matches the batch result") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_in").toString
    val events = Seq(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 3.0),
      (ts("2024-01-01 10:20:00"), "error", 7.0),
      (ts("2024-01-01 11:10:00"), "click", 5.0))
    events.toDF("ts", "event_type", "value").write.parquet(s"$dir/batch1")

    val schema = spark.read.parquet(s"$dir/batch1").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/*")
    val agg = EventStreams.hourlyAggregate(stream)
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("hourly_out")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // append mode only emits closed windows; push the watermark past 11:00
      Seq((ts("2024-01-01 14:00:00"), "click", 0.0)).toDF("ts", "event_type", "value")
        .write.parquet(s"$dir/batch2")
      q.processAllAvailable()
      val out = spark.table("hourly_out").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(out(("2024-01-01 10:00:00.0", "click")) == (2L, 2.0))
      assert(out(("2024-01-01 10:00:00.0", "error")) == (1L, 7.0))
      assert(out(("2024-01-01 11:00:00.0", "click")) == (1L, 5.0))
      // and the same plan over the same data as a BATCH frame agrees
      val batch = EventStreams.hourlyAggregate(spark.read.parquet(s"$dir/batch1"))
        .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(batch(("2024-01-01 10:00:00.0", "click")) == (2L, 2.0))
    } finally q.stop()
  }

  test("streaming windowed quantile sketch: closed windows hold the rank bound") {
    // Quantiles.approxByGroups' scaladoc claims the sketch aggregate runs
    // unchanged inside a watermarked streaming window (mergeable state —
    // the exact percentile_disc surface cannot). Prove it: stream values
    // 1..100 into one hour window, close it, and require the emitted p50
    // to satisfy the GK rank bound vs the exact multiset (rank 50 +-
    // n/accuracy + 1 ~= +-1.1 -> an element in [49, 51]). The bound — not
    // value equality vs a batch run — is the right assertion: GK answers
    // may legally differ with merge order, the guarantee is what's stable.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val df = input.toDF().toDF("ts", "v").withWatermark("ts", "30 minutes")
    val agg = graft.operators.Quantiles.approxByGroups(df,
        Seq(window(col("ts"), "1 hour").as("w")), col("v"), Seq(0.5), 1000)
      .select(col("w.start").as("hour"), col("p50_approx"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("quantile_out").start()
    try {
      input.addData((1 to 60).map(i => (ts("2024-01-01 10:05:00"), i.toDouble)): _*)
      q.processAllAvailable()
      input.addData((61 to 100).map(i => (ts("2024-01-01 10:40:00"), i.toDouble)): _*)
      q.processAllAvailable()
      input.addData((ts("2024-01-01 14:00:00"), 0.0)) // push the watermark
      q.processAllAvailable()
      val out = spark.table("quantile_out").collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
      val p50 = out("2024-01-01 10:00:00.0")
      assert(p50 == math.rint(p50) && p50 >= 49.0 && p50 <= 51.0,
        s"streamed p50=$p50 violates the rank bound on 1..100")
    } finally q.stop()
  }

  test("stream-stream interval join: in-window pairs emit, out-of-window don't, batch agrees") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val reads = MemoryStream[(Long, Timestamp, Double)]
    val lDf = clicks.toDF().toDF("user_id", "ts")
    val rDf = reads.toDF().toDF("r_user", "rts", "r_value")
    val joined = EventStreams.intervalJoin(lDf, rDf,
      leftKey = "user_id", rightKey = "r_user", leftTs = "ts", rightTs = "rts",
      beforeSeconds = 60, afterSeconds = 120)
      .select("user_id", "ts", "rts", "r_value")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ivj_out").start()
    try {
      clicks.addData((1L, ts("2024-01-01 10:10:00")), (2L, ts("2024-01-01 10:30:00")))
      reads.addData(
        (1L, ts("2024-01-01 10:09:30"), 5.0),  // 30s before  -> in  (before=60)
        (1L, ts("2024-01-01 10:11:30"), 6.0),  // 90s after   -> in  (after=120)
        (1L, ts("2024-01-01 10:07:00"), 7.0),  // 180s before -> out
        (2L, ts("2024-01-01 10:29:00"), 8.0),  // same window, other key -> in for 2 only
        (3L, ts("2024-01-01 10:10:00"), 9.0))  // key with no left event -> out
      q.processAllAvailable()
      val out = spark.table("ivj_out").collect()
        .map(r => (r.getLong(0), r.getDouble(3))).toSet
      assert(out == Set((1L, 5.0), (1L, 6.0), (2L, 8.0)))
      // the same plan over the same data as BATCH frames agrees
      val lb = Seq((1L, ts("2024-01-01 10:10:00")), (2L, ts("2024-01-01 10:30:00")))
        .toDF("user_id", "ts")
      val rb = Seq(
        (1L, ts("2024-01-01 10:09:30"), 5.0), (1L, ts("2024-01-01 10:11:30"), 6.0),
        (1L, ts("2024-01-01 10:07:00"), 7.0), (2L, ts("2024-01-01 10:29:00"), 8.0),
        (3L, ts("2024-01-01 10:10:00"), 9.0)).toDF("r_user", "rts", "r_value")
      val batch = EventStreams.intervalJoin(lb, rb,
        "user_id", "r_user", "ts", "rts", 60, 120)
        .select("user_id", "ts", "rts", "r_value")
        .collect().map(r => (r.getLong(0), r.getDouble(3))).toSet
      assert(batch == out)
    } finally q.stop()
  }

  test("streaming sketch dedup: bloom corpus hits and within-stream repeats both drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((100L, "existing corpus document text")).toDF("doc_id", "text")
    val bloom = graft.ext.Dedup.corpusBloom(corpus)
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.dedupAgainstCorpusSketch(
        input.toDF().toDF("doc_id", "ts", "text"), bloom)
      .writeStream.outputMode("append").format("memory").queryName("sketch_dedup_out").start()
    try {
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), "existing corpus document text"), // bloom hit
        (2L, ts("2024-01-01 10:01:00"), "a brand new document"))          // kept
      q.processAllAvailable()
      input.addData(
        (3L, ts("2024-01-01 10:02:00"), "a brand new document"))          // stream repeat
      q.processAllAvailable()
      val out = spark.table("sketch_dedup_out").collect().map(_.getLong(0)).toSet
      assert(out == Set(2L))
    } finally q.stop()
  }

  test("st3 stream bloom probe keeps exactly x39's keep decisions on its feed") {
    // st3's feed is x39's re-crawl batch MINUS the mod-35 copies (those
    // duplicate batch-side docs, which the stream face dedups
    // nondeterministically in batch — see the query's scaladoc). On the
    // shared remainder the sketch probe must agree with x39's verdicts
    // row-for-row: same sketch, same corpus, different operator face.
    val sf = "/root/testdata/sf0.001"
    val kept = graft.SparkEntry.queries("st3_stream_bloom_probe")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val x39Keep = graft.SparkEntry.queries("x39_dedup_bloom")(spark, sf)
      .where(col("action") === "keep")
      .collect().map(_.getLong(0)).toSet
    val mod35Copies = graft.Tables.documents(spark, sf)
      .where(col("doc_id") % 35 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(kept.nonEmpty && kept == (x39Keep -- mod35Copies))
  }

  test("streaming as-of enrichment: closed groups equal the batch AsofJoin.nearest, " +
    "ties break earlier, unmatched events survive with nulls") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val static = Seq((ts("2024-01-01 10:00:00"), 1.0), (ts("2024-01-01 10:30:00"), 2.0),
      (ts("2024-01-01 11:00:00"), 3.0)).toDF("t", "rate")
    val input = MemoryStream[(Long, Timestamp, String)]
    val events = Seq( // third column = non-key payload carried via first()
      (1L, ts("2024-01-01 10:05:00"), "p1"), // nearest 10:00 -> 1.0
      (2L, ts("2024-01-01 10:15:00"), "p2"), // equidistant 10:00/10:30 -> earlier -> 1.0
      (3L, ts("2024-01-01 10:50:00"), "p3"), // nearest 11:00 -> 3.0
      (4L, ts("2024-01-01 12:30:00"), "p4")) // no reference within 15 min -> null
    val q = EventStreams.asofEnrich(input.toDF().toDF("event_id", "t", "payload"), static,
        "t", 900L, Seq("event_id", "t"), "1 hour")
      .writeStream.outputMode("append").format("memory").queryName("asof_out").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData((99L, ts("2024-01-01 20:00:00"), "p99")) // advance the watermark
      q.processAllAvailable()
      // output order: keyCols (event_id, t), carried (payload), then rate
      val rows = spark.table("asof_out").collect().filter(_.getLong(0) != 99L)
      val got = rows
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
      assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 3.0, 4L -> -1.0), got.toString)
      // the event's own payload rides through the streaming aggregation
      assert(rows.map(r => r.getLong(0) -> r.getString(2)).toMap ==
        Map(1L -> "p1", 2L -> "p2", 3L -> "p3", 4L -> "p4"))
      // law: identical to the batch as-of join on the same frames
      val batch = graft.operators.AsofJoin.nearest(
          events.toDF("event_id", "t", "payload"), static, "t", 900L, Seq("event_id"))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
      assert(batch == got, s"stream face diverged from batch: $batch vs $got")
    } finally q.stop()
  }

  test("asofEnrich accepts TIMESTAMP_NTZ inputs and matches the batch as-of, like AsofJoin does") {
    import spark.implicits._
    // the driver's testdata flipped events.ts between physical timestamp
    // flavors once (round 7); the batch AsofJoin normalizes NTZ through
    // TimeCols.ltz, so the stream face claiming row-for-row identity must
    // accept the same inputs — before the fix this failed analysis at
    // unix_micros
    val ntz = org.apache.spark.sql.types.TimestampNTZType
    val static = Seq((ts("2024-01-01 10:00:00"), 1.0), (ts("2024-01-01 10:30:00"), 2.0))
      .toDF("t", "rate").withColumn("t", col("t").cast(ntz))
    val events = Seq((1L, ts("2024-01-01 10:05:00")), (2L, ts("2024-01-01 10:40:00")),
        (3L, ts("2024-01-01 12:00:00")))
      .toDF("event_id", "t").withColumn("t", col("t").cast(ntz))
    val got = EventStreams.asofEnrich(events, static, "t", 900L, Seq("event_id", "t"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    assert(got == Map(1L -> 1.0, 2L -> 2.0, 3L -> -1.0), got.toString)
    val batch = graft.operators.AsofJoin.nearest(events, static, "t", 900L, Seq("event_id"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toMap
    assert(batch == got, s"NTZ stream face diverged from batch: $batch vs $got")
  }
}
