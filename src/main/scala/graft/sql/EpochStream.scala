package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Offsets for the epoch-changelog stream: one committed manifest epoch
  * per offset (epoch -1 = "before the table existed", so the first batch
  * delivers the full current file set).
  */
case class GraftEpochOffset(epoch: Long) extends Offset {
  override def json(): String = s"""{"epoch":$epoch}"""
}

object GraftEpochOffset {
  private val Re = """\{\s*"epoch"\s*:\s*(-?\d+)\s*\}""".r
  def fromJson(json: String): GraftEpochOffset = json match {
    case Re(e) => GraftEpochOffset(e.toLong)
    case _ => throw new IllegalArgumentException(
      s"not a graft epoch offset: '$json'")
  }
}

/** `spark.readStream.table("graft.t")` over a manifest store — epochs as
  * offsets: each micro-batch is the file DELTA between two committed
  * epochs, read from the manifest snapshots (never a directory listing),
  * so a batch can neither duplicate nor miss rows.
  *
  * APPEND-ONLY contract, enforced loudly: a rewrite epoch (recluster,
  * COW delete/update, replace, a partition RE-upsert — any epoch that
  * DROPS a file of the start epoch) fails the batch with a clear message
  * instead of replaying rewritten rows as inserts. This is the documented
  * decision (the other option, silent full-refresh, would emit duplicates
  * downstream); OPTIMIZE passes on a streamed table belong between stream
  * restarts, exactly as Delta's `ignoreChanges` family draws the line.
  * Retention interacts the same way: the stream diffs epoch SNAPSHOTS, so
  * vacuum only below the slowest reader's offset.
  *
  * PARTITIONED stores stream too: per-batch scans anchor at the table
  * root (`basePath`), so the partition columns reconstruct on every delta
  * — the daily ingest that lands each day ONCE (new partition per epoch)
  * is pure append and streams cleanly; re-upserting an existing day
  * retires its files and refuses, as any rewrite does.
  *
  * Catch-up pacing: implements [[SupportsAdmissionControl]] with two
  * composable knobs — `maxEpochsPerTrigger` ("at most N epochs per
  * micro-batch", the changelog's natural unit) and `maxFilesPerTrigger`
  * ("at most N delta files per micro-batch", whole epochs admitted while
  * the budget lasts, always at least one) — so a stream starting against
  * a long history advances in bounded steps instead of one giant first
  * batch, even when epoch sizes vary wildly.
  *
  * Scale shape: offset resolution is O(files) driver-side metadata (two
  * snapshot reads per batch); each batch scans ONLY its delta files
  * through the stock v2 parquet reader (column pruning applied — the
  * stream builds its per-batch scans at the stream's own read schema).
  */
class GraftEpochStream(spark: SparkSession, baseDir: String, rel: String,
                       dataSchema: StructType, readSchema: StructType,
                       basePath: Option[String],
                       maxEpochsPerTrigger: Option[Int],
                       maxFilesPerTrigger: Option[Int] = None,
                       startingEpoch: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl {

  private def store = new graft.io.Store(spark, baseDir)

  // the per-batch scan planned last, reused by createReaderFactory (the
  // exec evaluates partitions first, factory second, within one batch)
  @volatile private var lastBatchScan: Option[Scan] = None

  /** Where a NEW checkpoint starts (Delta's `startingVersion` shape) —
    * only consulted on the stream's first-ever batch; afterwards the
    * checkpointed offset rules:
    *   - absent: the full current table, then deltas (offset -1);
    *   - `"latest"`: only changes AFTER the stream starts (offset =
    *     current epoch — the tail -f mode);
    *   - `<n>`: epochs n and newer (offset n-1; the first batch needs
    *     epoch n-1's snapshot unless n is the oldest readable — `0` is
    *     exactly the default). A vacuumed anchor fails the first batch
    *     loudly rather than silently delivering a different slice.
    */
  override def initialOffset(): Offset = startingEpoch match {
    case None => GraftEpochOffset(-1L)
    case Some("latest") => GraftEpochOffset(store.currentEpoch(rel))
    case Some(v) =>
      val n =
        try v.toLong
        catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingEpoch must be a non-negative epoch number or 'latest', got '$v'")
        }
      require(n >= 0, s"startingEpoch must be non-negative, got $n")
      // validate the anchor AT STREAM START: an n beyond current+1 would
      // checkpoint an offset AHEAD of the table — latestOffset's
      // `current <= start` early-return then yields an offset BEHIND the
      // checkpointed start and the batch fails later with an unrelated
      // "epoch n-1 not readable" message. n == current+1 is the explicit
      // "only future changes" anchor (same offset as 'latest').
      val current = store.currentEpoch(rel)
      require(n <= current + 1,
        s"startingEpoch $n is beyond the current epoch $current of $rel — " +
          s"use an epoch in [0, ${current + 1}] or 'latest'")
      GraftEpochOffset(n - 1)
  }

  override def latestOffset(): Offset =
    GraftEpochOffset(store.currentEpoch(rel))

  override def getDefaultReadLimit(): ReadLimit =
    if (maxEpochsPerTrigger.isDefined || maxFilesPerTrigger.isDefined)
      ReadLimit.maxFiles(maxEpochsPerTrigger.orElse(maxFilesPerTrigger).get)
    else ReadLimit.allAvailable()

  /** Admission-controlled advance, from the stream's OWN options:
    *   - `maxEpochsPerTrigger` caps the EPOCH step — the natural unit of
    *     the changelog;
    *   - `maxFilesPerTrigger` caps the DELTA-FILE count — the
    *     stock-file-stream-shaped knob for catch-up over a long history
    *     whose epochs vary wildly in size. Epochs are atomic (an offset
    *     is an epoch boundary), so the walk admits whole epochs while the
    *     file budget lasts and ALWAYS admits at least one (a single epoch
    *     larger than the budget must advance the stream, not freeze it —
    *     the same floor stock maxFilesPerTrigger applies per file).
    * An explicit [[ReadAllAvailable]] limit (Trigger.Once) OVERRIDES the
    * pacing — "everything in one batch" is that trigger's contract, and
    * capping it would silently strand the epochs past the cap when the
    * query terminates after its single batch.
    *
    * A FRESH stream (offset -1) pages from the OLDEST still-readable
    * epoch: earlier epochs were vacuumed and their deltas no longer
    * exist — the paced first batch anchors there exactly as the unpaced
    * first batch anchors at the current snapshot (both deliver a full
    * file set, never a partial table).
    *
    * Caught up (current == start) returns immediately — an idle poll
    * pays one manifest read, never the walk. The walk itself reads
    * O(admitted epochs) snapshot name-sets, driver-side metadata only.
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = startOffset.asInstanceOf[GraftEpochOffset].epoch
    val current = store.currentEpoch(rel)
    if (current <= start ||
        limit.isInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadAllAvailable] ||
        (maxEpochsPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty))
      return GraftEpochOffset(current)
    // first epoch a paced batch may deliver: the next one, or — from a
    // fresh offset — the oldest epoch that still has a snapshot
    val first =
      if (start >= 0) start + 1
      else store.listVersions(rel).headOption.getOrElse(current)
    var end = maxEpochsPerTrigger
      .map(n => math.min(current, math.max(first, start + n))).getOrElse(current)
    maxFilesPerTrigger.foreach { budget =>
      var prev: Set[String] =
        if (start < 0) Set.empty
        else store.versionFileNames(rel, start).toSet
      var admitted = start
      var files = 0
      var e = first
      while (e <= end) {
        val names = store.versionFileNames(rel, e).toSet
        files += (names -- prev).size
        if (files <= budget || admitted == start) { admitted = e; prev = names; e += 1 }
        else e = end + 1 // budget exhausted past the first epoch
      }
      end = math.max(admitted, start)
    }
    GraftEpochOffset(end)
  }

  override def reportLatestOffset(): Offset = latestOffset()

  override def deserializeOffset(json: String): Offset =
    GraftEpochOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftEpochOffset].epoch
    val e = end.asInstanceOf[GraftEpochOffset].epoch
    val scan = mkScan(deltaPaths(s, e))
    lastBatchScan = Some(scan)
    scan.toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    lastBatchScan.getOrElse(mkScan(Nil)).toBatch.createReaderFactory()

  /** The files epoch `e` added over epoch `s`, at their current homes.
    * Cost shape matters here — this runs once per micro-batch: the two
    * epochs' NAME sets come from their snapshots (two small metadata
    * reads) and only the DELTA names are resolved to paths (O(delta)
    * existence probes via [[graft.io.Store.resolveNames]]) — never a
    * whole-table listing, so a small append batch on a million-file
    * table costs the batch, not the table.
    */
  private def deltaPaths(s: Long, e: Long): Seq[String] = {
    if (e < 0 || s == e) return Nil
    val endNamesSeq = store.versionFileNames(rel, e)
    val startNames =
      if (s < 0) Set.empty[String] else store.versionFileNames(rel, s).toSet
    val endNames = endNamesSeq.toSet
    val dropped = startNames -- endNames
    if (dropped.nonEmpty) throw new IllegalStateException(
      s"epochs $s..$e of $rel contain a REWRITE (${dropped.size} file(s) of " +
        s"epoch $s are gone from epoch $e, e.g. ${dropped.head}) — the epoch " +
        "changelog streams appends only; run OPTIMIZE/DELETE/partition " +
        "re-upserts between stream restarts, or re-read the table as a batch")
    store.resolveNames(rel, e, endNamesSeq.filterNot(startNames))
  }

  /** A stock v2 parquet scan over exactly `paths`, pruned to the stream's
    * read schema — the same reader machinery every batch face uses.
    * Partitioned stores anchor at the table root so `key=value` columns
    * reconstruct (the data schema excludes them; inference appends them,
    * matching the table's own schema construction).
    */
  private def mkScan(paths: Seq[String]): Scan = {
    val options = basePath match {
      case Some(bp) => new CaseInsensitiveStringMap(
        java.util.Collections.singletonMap("basePath", bp))
      case None => CaseInsensitiveStringMap.empty()
    }
    val tbl = ParquetTable(s"graft-epochs:$rel", spark,
      options, paths, Some(dataSchema), classOf[ParquetFileFormat])
    val b = tbl.newScanBuilder(options)
    b.asInstanceOf[SupportsPushDownRequiredColumns].pruneColumns(readSchema)
    b.build()
  }
}
