package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

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
  *   - [[intervalJoin]]: a watermarked stream-stream interval join.
  *   - [[asofEnrich]]: J2's nearest-within-tolerance as-of join as a
  *     stream-static join.
  *   - [[dedupAgainstCorpusSketch]]: x39's Bloom-sketch corpus dedup on an
  *     unbounded document feed.
  *
  * Each runs the same plan on a batch frame; the declared queries st1-st4
  * oracle-check those batch faces. State scale: every stateful operator
  * here partitions by key (window, join key or content hash), so state is
  * hash-distributed across executors, and watermarks bound it.
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

  /** Within-feed first-arrival dedup with a BATCH face: streaming frames
    * get `dropDuplicatesWithinWatermark` (watermark-bounded state);
    * batch frames get plain `dropDuplicates` — Spark rejects the
    * watermark variant outright on batch plans (unlike `withWatermark`,
    * which is a silent no-op), so [[dedupAgainstCorpusSketch]] could
    * otherwise never run batch-materialized the way st1/st2 do. Batch semantics:
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

  /** Streaming corpus dedup: documents arriving on a stream are dropped
    * when their text (a) already appeared on the stream within the
    * watermark horizon, or (b) probes positive in a prebuilt
    * [[graft.ext.Dedup.corpusBloom]] sketch of a static corpus, instead of
    * a stream-static join against the corpus. The probe is a pure
    * codegen'd predicate, so the corpus contributes NO join state, no
    * per-microbatch static-side rescan, and no broadcast — the sketch
    * rides the query plan as a constant, the right cost model when the
    * corpus is 100 TB but its membership sketch is megabytes. Error is
    * one-sided ([[graft.ext.Dedup.bloomDedup]]): a corpus duplicate is
    * never emitted; a unique doc is lost with p <= the build fpp.
    * Within-stream repeats are still dropped exactly (sha2 keys in
    * watermark-bounded state). The sketch is fixed when the query starts:
    * corpus appends after that are not seen until the sketch is rebuilt
    * and the query restarted. NULL-text rows are DROPPED, explicitly and
    * up front: content-dedup of contentless rows is undefined, and leaving
    * them in would collapse every distinct null-text row onto the single
    * null dedup key (silently "deduplicating" unrelated rows against each
    * other). The curation chain gives such rows an explicit drop_invalid
    * decision before this stage; do the same upstream if they must be
    * accounted for.
    */
  def dedupAgainstCorpusSketch(stream: DataFrame, corpusBloom: Array[Byte],
                               text: String = "text",
                               watermarkDelay: String = "2 hours"): DataFrame =
    dropDupFeed(
      stream
        .where(col(text).isNotNull)
        .withColumn("__h", sha2(col(text), 256))
        .withWatermark("ts", watermarkDelay), "__h")
      .where(!graft.ext.Dedup.bloomMightContain(corpusBloom, col(text)))
      .drop("__h")
}
