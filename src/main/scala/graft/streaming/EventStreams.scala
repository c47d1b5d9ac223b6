package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming formulations of the pipeline's streaming-shaped
  * concerns (SURVEY.md §2.9). The reference is batch-only — its late-data
  * handling is the D1 keep-newest upsert and its windowing is the hourly
  * join-then-filter grid — but the engine exposes the streaming equivalents
  * so the same semantics run on an unbounded feed:
  *
  *   - [[hourlyAggregate]]: the 1-hour tumbling grid as a watermarked
  *     windowed aggregation (late rows within the watermark update their
  *     window; rows later than that are dropped — the streaming analogue of
  *     the reference's bounded re-collection window).
  *   - [[dedupByKey]]: streaming `dropDuplicates` on the time key — the
  *     exactly-once-ish idempotence the reference gets from D1/D2.
  *   - [[sessionize]]: `flatMapGroupsWithState` sessionization per user —
  *     the custom-state escape hatch for semantics windows can't express.
  *
  * State scale: all three partition by key (window/user), so state is
  * hash-distributed across executors; watermarks and timeouts bound it.
  */
object EventStreams {

  /** Hourly per-type value aggregate over an unbounded event stream.
    * `df` may be a streaming OR batch frame (same plan either way).
    * `sum_value` is the cross-engine-exact surface (2-decimal inputs sum
    * exactly at ROUND 2); `avg_value`'s division can land on a rounding
    * boundary where summation-order ulps differ between engines, so the
    * declared oracle query (st1) reads the sum, not the avg.
    */
  def hourlyAggregate(df: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("avg_value"),
        round(sum("value"), 2).as("sum_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"),
        col("avg_value"), col("sum_value"))

  /** Streaming key-dedup: first arrival wins within the watermark horizon
    * (the reference's D2; D1 keep-newest has no streaming analogue because
    * a sink row, once emitted, is immutable — late updates become new
    * versions downstream instead).
    */
  def dedupByKey(df: DataFrame, keyCol: String = "event_id",
                 watermarkDelay: String = "2 hours"): DataFrame =
    df.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Watermarked stream-STREAM interval join: pair each left event with
    * the right-stream events of the same key whose timestamp falls in
    * `[leftTs - beforeSeconds, leftTs + afterSeconds]` — the streaming
    * face of the batch band/as-of family (enrich clicks with the
    * readings around them, impressions with conversions that follow).
    *
    * Scale shape: both sides buffer in join state hash-partitioned by the
    * key; the watermark PLUS the interval bound is exactly what lets Spark
    * evict state (an unbounded-interval stream-stream join would grow
    * state forever — the time-range conjunct is load-bearing, not an
    * optimization). Inner joins emit matches immediately in append mode.
    * Column names must be disjoint across the two sides (same contract as
    * [[graft.operators.AsofJoin]]): pre-rename the right side.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   beforeSeconds: Long, afterSeconds: Long,
                   watermarkDelay: String = "2 hours"): DataFrame = {
    require(beforeSeconds >= 0 && afterSeconds >= 0,
      "interval bounds must be non-negative")
    val collisions = right.columns.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"right-side columns collide with left: ${collisions.mkString(", ")} — rename before joining")
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) - expr(s"INTERVAL $beforeSeconds SECONDS") &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $afterSeconds SECONDS"),
      "inner")
  }

  /** Streaming as-of enrichment — the streaming face of J2's
    * `merge_asof` ([[graft.operators.AsofJoin.nearest]], the reference's
    * `raw_data.py:223-229` semantics): each event on an unbounded feed
    * picks up the nearest STATIC reference row within an inclusive
    * ±tolerance, equidistant tie broken toward the earlier reference row.
    * Unmatched events survive with null reference columns
    * (left-preserving, like `merge_asof`).
    *
    * Mechanics: the static side explodes each row into its
    * `floor(ts/tol)` bucket ±1 — AsofJoin's overlap-bucket expansion — so
    * every in-tolerance pair shares an equi-join key and the stream-static
    * join stays a hash join (never a nested loop, which streaming forbids
    * anyway). The per-event best match is then a watermarked streaming
    * aggregation: `min` over a `(distance, ref_ts, payload)` struct —
    * lexicographic struct ordering IS the pandas tie-break — because
    * `row_number` windows do not exist on streams. Out-of-tolerance and
    * unmatched candidates contribute NULL to the min, so a group with no
    * match emits its event with a null payload once its watermark closes.
    *
    * Contract: `keyCols` uniquely identify an event and MUST contain `on`
    * — append-mode streaming aggregation requires the watermark column in
    * the grouping key (and an as-of key that includes its own timestamp
    * is also what makes D1-style replays idempotent). Non-key event
    * columns ride along via `first` (every candidate row of a group
    * carries the same event payload). Static/stream column names must be
    * disjoint apart from `on`.
    *
    * Scale shape: state is one row per in-flight event group, evicted by
    * the watermark; the static side is 3x its row count in exploded
    * bucket copies (broadcast at dimension size, shuffled hash join
    * beyond). The SAME plan runs on a batch frame (watermark is a no-op)
    * — the st4 declared query oracle-checks that face, StreamingSpec pins
    * closed-window identity with the batch [[graft.operators.AsofJoin]].
    */
  def asofEnrich(stream: DataFrame, static: DataFrame, on: String,
                 toleranceSeconds: Long, keyCols: Seq[String],
                 watermarkDelay: String = "2 hours"): DataFrame = {
    require(toleranceSeconds > 0, "tolerance must be positive")
    require(keyCols.contains(on),
      s"keyCols must include the as-of column $on — append-mode aggregation " +
        "groups on the watermarked column")
    val collisions = static.columns.toSet.intersect(stream.columns.toSet) - on
    require(collisions.isEmpty,
      s"static columns collide with stream: ${collisions.mkString(", ")} — rename before joining")
    val tolMicros = toleranceSeconds * 1000000L
    val rCols = static.columns.filter(_ != on).toSeq
    // NTZ inputs normalize through the shared TimeCols.ltz exactly as the
    // batch AsofJoin.asof does — otherwise a TIMESTAMP_NTZ `on` column
    // fails `unix_micros` analysis here while the batch face it claims
    // row-for-row identity with accepts it.
    val rExp = graft.operators.TimeCols.ltz(static, on)
      .withColumn("__r_ts", unix_micros(col(on)))
      .drop(on)
      .withColumn("__rb", floor(col("__r_ts") / tolMicros))
      .withColumn("__bucket", explode(array(col("__rb") - 1, col("__rb"), col("__rb") + 1)))
      .drop("__rb")
    val cand = graft.operators.TimeCols.ltz(stream, on)
      .withWatermark(on, watermarkDelay)
      .withColumn("__l_ts", unix_micros(col(on)))
      .withColumn("__bucket", floor(col("__l_ts") / tolMicros))
      .join(rExp, Seq("__bucket"), "left")
    val dist = abs(col("__l_ts") - col("__r_ts"))
    // NULL outside tolerance (and for unmatched rows): min() skips nulls,
    // so only real candidates compete and a matchless group yields null
    val best = when(col("__r_ts").isNotNull && dist <= tolMicros,
      struct(dist.as("d"), col("__r_ts").as("rt"),
        struct(rCols.map(col): _*).as("payload")))
    val carried = stream.columns.filterNot(keyCols.contains).toSeq
    val aggs = min(best).as("__best") +: carried.map(c => first(col(c)).as(c))
    cand.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(keyCols.map(col) ++ carried.map(col) ++
        rCols.map(c => col(s"__best.payload.$c").as(c)): _*)
  }

  /** Streaming incremental exact dedup: the streaming face of
    * [[graft.ext.Dedup.incrementalDedup]]'s exact tier — documents
    * arriving on a stream are dropped when their content hash (a) already
    * appeared on the stream within the watermark horizon, or (b) exists
    * in a STATIC corpus snapshot. The corpus side reduces to one 64-byte
    * hash row per distinct text (broadcast-able for dimension-sized
    * corpora; shuffle-hash stream-static join beyond that). Stream-left /
    * static-right left ANTI is in Structured Streaming's supported-join
    * matrix (only anti joins with the STREAM on the right are rejected),
    * so the delta is expressed directly.
    */
  /** Within-feed first-arrival dedup with a BATCH face: streaming frames
    * get `dropDuplicatesWithinWatermark` (watermark-bounded state);
    * batch frames get plain `dropDuplicates` — Spark rejects the
    * watermark variant outright on batch plans (unlike `withWatermark`,
    * which is a silent no-op), so the operators below could otherwise
    * never run batch-materialized the way st1/st2 do. Batch semantics:
    * one arbitrary survivor per key, exactly what a whole-feed watermark
    * horizon degenerates to — deterministic iff the feed is key-unique
    * (the declared st3 feed is; its scaladoc explains why).
    */
  private def dropDupFeed(df: DataFrame, key: String, tsCol: String = "ts"): DataFrame =
    if (df.isStreaming) df.dropDuplicatesWithinWatermark(key)
    else {
      // Deterministic batch face. dropDuplicates keeps an ARBITRARY
      // survivor (whichever row the scan happened to produce first), so a
      // batch replay of the streaming dedup would be fixture-layout-
      // dependent the moment two feed rows share a key — an oracle that
      // compares full rows would then flap nondeterministically. Keep the
      // EARLIEST row per key instead (event-time order, total-ordered by
      // the remaining ORDERABLE columns on ts ties): the batch analogue of
      // the "first arrival wins" rule dropDuplicatesWithinWatermark applies
      // in arrival order. The event-time column is an explicit parameter
      // (every caller watermarks on it first) and its absence fails loudly
      // here instead of as an unresolved-column analysis error; unorderable
      // columns (maps) are excluded from the tie-break struct — they would
      // fail analysis outright, and dropping them only widens the (already
      // arbitrary-among-identical-ts) tie window, never changes which key
      // survives. Same key-shuffle as dropDuplicates; the rn<=1 filter is
      // map-side-limited by WindowGroupLimit.
      require(df.columns.contains(tsCol),
        s"dropDupFeed needs event-time column '$tsCol' on the batch face; feed has ${df.columns.mkString(", ")}")
      val rest = df.schema.fields
        .filter(f => f.name != key && f.name != tsCol)
        .filter(f => org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(f.dataType))
        .map(f => col(f.name))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key)).orderBy(col(tsCol).asc, struct(rest.toIndexedSeq: _*).asc)
      df.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1).drop("__rn")
    }

  def dedupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
                         text: String = "text",
                         watermarkDelay: String = "2 hours"): DataFrame = {
    val corpusHash = corpus.select(sha2(col(text), 256).as("__h")).distinct()
    // null text is dropped UP FRONT, loudly documented: sha2(null) is a
    // null key, and the within-stream dedup state would otherwise collapse
    // every distinct null-text row onto one state entry (silently dropping
    // the rest as "duplicates" of each other) — content dedup of
    // contentless rows is undefined; run the P6 guard / drop_invalid stage
    // upstream if such rows must be preserved elsewhere.
    dropDupFeed(
      stream
        .where(col(text).isNotNull)
        .withColumn("__h", sha2(col(text), 256))
        .withWatermark("ts", watermarkDelay), "__h")
      .join(corpusHash, Seq("__h"), "left_anti")
      .drop("__h")
  }

  /** Sketch-probe variant of [[dedupAgainstCorpus]]: the corpus side is a
    * prebuilt [[graft.ext.Dedup.corpusBloom]] filter instead of a
    * stream-static join. The probe is a pure codegen'd predicate, so the
    * corpus contributes NO join state, no per-microbatch static-side
    * rescan, and no broadcast — the sketch rides the query plan as a
    * constant, the right cost model when the corpus is 100 TB but its
    * membership sketch is megabytes. Error is one-sided ([[graft.ext
    * .Dedup.bloomDedup]]): a corpus duplicate is never emitted; a unique
    * doc is lost with p <= the build fpp. Within-stream repeats are still
    * dropped exactly (sha2 keys in watermark-bounded state). Corpus
    * APPENDS between sketch refreshes are the one semantic gap vs the
    * join — fold per-batch filters in with [[graft.ext.Dedup.mergeBloom]]
    * and restart the query (same static-snapshot caveat as
    * [[dedupAgainstCorpus]], whose static side is also fixed at start).
    * NULL-text rows are DROPPED by both faces, explicitly and up front:
    * content-dedup of contentless rows is undefined, and leaving them in
    * would collapse every distinct null-text row onto the single null
    * dedup key (silently "deduplicating" unrelated rows against each
    * other). The curation chain gives such rows an explicit drop_invalid
    * decision before this stage; do the same upstream if they must be
    * accounted for.
    */
  def dedupAgainstCorpusSketch(stream: DataFrame, corpusBloom: Array[Byte],
                               text: String = "text",
                               watermarkDelay: String = "2 hours"): DataFrame =
    dropDupFeed(
      stream
        .where(col(text).isNotNull) // same null-text rule as dedupAgainstCorpus
        .withColumn("__h", sha2(col(text), 256))
        .withWatermark("ts", watermarkDelay), "__h")
      .where(!graft.ext.Dedup.bloomMightContain(corpusBloom, col(text)))
      .drop("__h")

  /** Streaming ingestion curation: the stateless front half of
    * [[graft.jobs.CurateJob]] applied to an unbounded document feed —
    * clean/redact (x17's chain), the within-doc repetition filter (x22),
    * then the stateful exact-dedup tier ([[dedupAgainstCorpus]]) on the
    * CLEANED text, mirroring CurateJob's stage order (a doc that cleans
    * to a corpus doc's cleaned text is the same doc). The corpus side is
    * cleaned with the same expressions, reduced to one hash row per
    * distinct cleaned text.
    *
    * The clean/repetition stages are pure column expressions, so they run
    * identically on a batch frame (parity pinned in StreamingSpec); only
    * the dedup tier is streaming-stateful (watermark-bounded).
    * Emits the surviving documents with clean_text, redaction counts,
    * and repetition stats attached.
    */
  def curateStream(stream: DataFrame, corpus: DataFrame,
                   maxDupFraction: Double = 0.3,
                   text: String = "text",
                   watermarkDelay: String = "2 hours"): DataFrame = {
    val kept = repetitionFiltered(stream, maxDupFraction, text)
    val cleanCorpus = graft.ext.TextStats.withCleaned(corpus, text)
    dedupAgainstCorpus(kept, cleanCorpus, text = "clean_text",
      watermarkDelay = watermarkDelay)
  }

  /** The stateless stage of [[curateStream]], shared verbatim by the
    * batch-parity test: clean + repetition-score + filter.
    */
  def repetitionFiltered(df: DataFrame, maxDupFraction: Double = 0.3,
                         text: String = "text"): DataFrame =
    graft.ext.TextStats.withRepetition(
      graft.ext.TextStats.withCleaned(df, text), text = "clean_text")
      .where(col("dup_fraction") <= maxDupFraction)

  case class Session(userId: Long, nEvents: Long, totalValue: Double,
                     startTs: Timestamp, endTs: Timestamp)
  case class SessionState(n: Long, total: Double, startMs: Long, lastMs: Long)

  /** Gap-based sessionization: a user's session closes after `gapMinutes`
    * of event-time inactivity. Emits one row per closed session — either
    * when a later event of the same user arrives past the gap, or when the
    * WATERMARK passes the gap deadline (event-time timeout; deterministic
    * and replayable, unlike processing-time timeouts, and it never spins
    * empty micro-batches).
    *
    * `events` needs columns (user_id: long, ts: timestamp, value: double).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id").cast("long"), col("ts"), col("value").cast("double"))
      .as[(Long, Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, s.n, s.total,
              new Timestamp(s.startMs), new Timestamp(s.lastMs)))
          } else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            var st = state.getOption.getOrElse(
              SessionState(0, 0.0, sorted.head._2.getTime, sorted.head._2.getTime))
            val closed = Seq.newBuilder[Session]
            sorted.foreach { case (_, ts, v) =>
              if (st.n > 0 && ts.getTime - st.lastMs > gapMinutes * 60000L) {
                closed += Session(userId, st.n, st.total,
                  new Timestamp(st.startMs), new Timestamp(st.lastMs))
                st = SessionState(0, 0.0, ts.getTime, ts.getTime)
              } else if (st.n > 0 && st.startMs - ts.getTime > gapMinutes * 60000L) {
                // stray cross-batch late event, older than the OPEN session
                // by more than the gap: batch semantics put it in its own
                // earlier session, so merging (which the min/max update
                // would do) would weld two sessions across a super-gap
                // interval. Emit it as a closed singleton and leave the
                // open session untouched. Bounded deviation from batch:
                // two such stray events of the SAME old session arriving
                // in DIFFERENT micro-batches emit as two singletons where
                // batch emits one pair — same-batch strays sort together
                // and merge correctly.
                closed += Session(userId, 1, v, ts, ts)
              }
              if (st.n == 0 || st.startMs - ts.getTime <= gapMinutes * 60000L) {
                // min/max, not blind assignment: sorting is batch-LOCAL, so
                // a cross-batch late event (within the watermark but older
                // than the session's last event) must extend the session
                // bounds, never rewind lastMs — a rewind would shift the
                // end timestamp back, fire the event-time timeout early,
                // and make a following event mis-measure the gap
                st = SessionState(st.n + 1, st.total + v,
                  math.min(st.startMs, ts.getTime), math.max(st.lastMs, ts.getTime))
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastMs + gapMinutes * 60000L)
            closed.result().iterator
          }
      }
  }

  /** Streaming keep-newest upsert sink — the reference's daily D1 upsert
    * (`raw_data.py:257-261`) run continuously: each micro-batch merges
    * into the stored parquet table via [[graft.operators.Upsert.keepNewest]],
    * so incoming rows replace stored rows on key collision. State lives
    * in the TABLE, not in streaming state — no watermark, unbounded key
    * space — and a checkpoint-recovery REPLAY of a micro-batch is
    * harmless because the merge is idempotent (UpsertSpec law: upserting
    * the same batch twice changes nothing).
    *
    * Durability: the merged table is fully written to a `.tmp_` sibling
    * (while the stored files are still intact — the merge plan reads
    * them during that write) and then swapped in with
    * [[graft.io.Store.swapInto]]'s park-aside/rename discipline. An
    * executor loss or crash mid-merge leaves the stored table untouched;
    * a crash mid-swap rolls back or is repaired by the micro-batch
    * replay. (The previous face overwrote in place behind an eager
    * localCheckpoint — checkpoint blocks are not fault-tolerant, so a
    * failure after the delete started could destroy the table.)
    *
    * Scale shape: this face rewrites the whole (fixture-sized) table per
    * batch; [[upsertSinkPartitioned]] is the 100-TB face — same merge,
    * date-partitioned store, only the partitions the batch's keys land
    * in are read, merged, and swapped.
    */
  def upsertSink(stream: DataFrame, tableDir: String, keys: Seq[String],
                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(tableDir)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a hard crash between swapInto's two renames leaves the table
        // parked and the target missing; restore FIRST, or this replay
        // would merge against a phantom empty table and the next swap's
        // park cleanup would destroy the only surviving copy
        graft.io.Store.recoverSwap(fs, target)
        val existing =
          if (fs.exists(target)) spark.read.parquet(tableDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
        val tmp = new org.apache.hadoop.fs.Path(target.getParent, s".tmp_${target.getName}")
        graft.operators.Upsert.keepNewest(existing, batch.toDF(), keys)
          .write.mode("overwrite").parquet(tmp.toString)
        graft.io.Store.swapInto(fs, tmp, target)
        ()
      }
      .start()

  /** Partition-scoped streaming keep-newest upsert — [[upsertSink]]'s
    * 100-TB face: the store is the date-partitioned parquet layout
    * ([[graft.io.Store.writePartitioned]]'s `dt=` scheme), and each
    * micro-batch reads, merges, and swaps ONLY the `dt=` partitions its
    * keys land in. An untouched partition's files are never opened,
    * rewritten, or moved (StreamingSpec pins byte-level file identity
    * across a batch), so per-batch cost is O(touched days), not O(table).
    *
    * Correctness requires `dt` (the UTC day of `tsCol` — see
    * [[graft.io.Store.utcDay]]) to be a FUNCTION of the merge key — i.e.
    * `tsCol` must be one of `keys` (the reference's D1 call site keys on
    * the datetime itself, so this holds there). If a
    * key could move between partitions, a partition-scoped merge would
    * leave its stale twin behind in a day the batch never read; the
    * require fails loudly instead.
    */
  def upsertSinkPartitioned(stream: DataFrame, tableDir: String, keys: Seq[String],
                            tsCol: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        upsertPartitions(batch.toDF(), tableDir, keys, tsCol)
      }
      .start()

  /** The batch-side merge of [[upsertSinkPartitioned]] (public: it is the
    * law StreamingSpec pins, and a batch backfill wants exactly this
    * operation). Semantics: the stored table after the call equals
    * [[graft.operators.Upsert.keepNewest]](stored, batch, keys) — proven
    * as a spec law — but only the batch's own `dt=` partitions are listed,
    * read and swapped (per-partition park-aside/rename, so a crash mid-swap
    * never leaves partial data; a replay repairs any partially-applied
    * batch because the merge is idempotent). Its metadata work does not
    * grow with the number of stored days: one listing of the table root,
    * then a read of the batch's day directories alone.
    */
  def upsertPartitions(batch: DataFrame, tableDir: String, keys: Seq[String],
                       tsCol: String): Unit = {
    require(keys.contains(tsCol),
      s"partition-scoped upsert needs dt=utc_day($tsCol) to be a function of the merge key " +
        s"(got keys=${keys.mkString(",")}) — otherwise a colliding key in another day's " +
        "partition would survive as a stale twin")
    val spark = batch.sparkSession
    val target = new org.apache.hadoop.fs.Path(tableDir)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crash between a day's two swap renames leaves that day parked and
    // its dt= directory missing — restore every such day FIRST (one root
    // listing), or the replay's read would see the day as empty and the
    // re-swap's park cleanup would destroy the only surviving copy
    val live = graft.io.Store.recoverPartitionSwaps(fs, target).toSet
    // the touched-partition list is bounded by the batch's DISTINCT DAYS —
    // a handful of rows on the driver, never the batch itself
    val days = batch.select(graft.io.Store.utcDay(col(tsCol)).as("dt")).distinct()
      .collect().map(_.getDate(0))
    if (days.isEmpty) return
    require(!days.contains(null),
      s"upsertPartitions: null $tsCol cannot be partition-assigned — drop or key such rows upstream")
    // only the batch's days that are stored are read, each by its own path
    // (`basePath` keeps `dt` a partition column), so Spark lists those
    // directories and never the others. None stored — a first write, or
    // the empty root a crash right after mkdirs below leaves — reads nothing.
    val stored = days.map(d => s"dt=$d").filter(live)
    val existing =
      if (stored.nonEmpty)
        spark.read.option("basePath", tableDir)
          .parquet(stored.map(n => new org.apache.hadoop.fs.Path(target, n).toString).toIndexedSeq: _*)
          .drop("dt")
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val merged = graft.operators.Upsert.keepNewest(existing, batch, keys)
      .withColumn("dt", graft.io.Store.utcDay(col(tsCol)))
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, s".tmp_${target.getName}")
    fs.delete(tmp, true)
    // full merged write lands in tmp first (stored files still intact and
    // readable by the merge plan during this job), then each touched day
    // swaps independently — untouched days are never read or moved
    merged.write.mode("overwrite").partitionBy("dt").parquet(tmp.toString)
    fs.mkdirs(target)
    days.foreach { d =>
      graft.io.Store.swapInto(fs,
        new org.apache.hadoop.fs.Path(tmp, s"dt=$d"),
        new org.apache.hadoop.fs.Path(target, s"dt=$d"))
    }
    fs.delete(tmp, true)
  }
}
