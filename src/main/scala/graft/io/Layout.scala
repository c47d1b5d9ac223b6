package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Layout metadata for curve-clustered parquet tables — the bookkeeping
  * that makes a SCOPED recluster possible (rewrite only what appends
  * eroded, leave well-clustered files byte-identical).
  *
  * Why a manifest at all: erosion cannot be detected from file geometry
  * alone. A pristine Hilbert layout's per-COLUMN min/max rectangles
  * overlap across files by construction (a curve slice's projection onto
  * each axis is wide) — indistinguishable, geometrically, from overlap
  * caused by an append. What IS sound: files written by the last full
  * layout pass are pristine *by construction*, so only base-vs-append
  * intersection needs testing. The manifest records exactly that
  * provenance split plus the layout parameters, as IMMUTABLE per-epoch
  * snapshots under the hidden `.graft_history/v<epoch>` dir — the current
  * manifest is the max committed snapshot (see [[LayoutManifest.read]] /
  * [[LayoutManifest.write]]).
  *
  * Format: line-oriented `key=value` (file names cannot contain the tab
  * separator), committed via atomic create-exclusive. Deliberately not
  * JSON: no parser dependency, and partial writes are impossible to
  * half-read.
  */
private[graft] case class LayoutManifest(
    zCols: Seq[String], bits: Int, files: Int, epoch: Long,
    base: Seq[String], appends: Seq[Seq[String]],
    touched: Option[Double] = None,
    partCols: Seq[String] = Nil,
    committedAt: Option[Long] = None,
    schemaJson: Option[String] = None) {

  def allFiles: Seq[String] = base ++ appends.flatten

  /** The epoch's declared TABLE schema (schema evolution): absent = the
    * files' own physical schema is the table schema (the pre-evolution
    * state); present = [[graft.io.Store.addColumns]] widened the schema
    * without rewriting files, and every reader must project the files to
    * it (absent columns read as null). Stored as Spark's StructType JSON —
    * single line, control characters escaped by the JSON spec, so the
    * `key=value` line format holds.
    */
  def schema: Option[org.apache.spark.sql.types.StructType] =
    schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** A manifest over a `key=value`-partitioned layout (file identities are
    * root-relative paths through their partition dirs) rather than a
    * curve-clustered flat one. The epoch/retire/vacuum machinery is
    * shared; what differs is staging (partitionBy, not a curve), version
    * reads (basePath-anchored so the partition columns reconstruct), and
    * that the erosion/scoped-OPTIMIZE passes do not apply.
    */
  def isPartitioned: Boolean = partCols.nonEmpty

  def lines: Seq[String] =
    Seq(s"zcols=${zCols.mkString("\t")}", s"bits=$bits", s"files=$files",
      s"epoch=$epoch", s"base=${base.mkString("\t")}") ++
      appends.map(a => s"append=${a.mkString("\t")}") ++
      touched.map(t => s"stat_touched=$t").toSeq ++
      (if (partCols.nonEmpty) Seq(s"partcols=${partCols.mkString("\t")}") else Nil) ++
      committedAt.map(t => s"committed_at=$t").toSeq ++
      schemaJson.map(j => s"schema=$j").toSeq
}

private[graft] object LayoutManifest {

  val HistoryDirName = ".graft_history"
  val RetiredDirName = ".graft_retired"

  /** Per-epoch manifest snapshots — the unit of time travel. Dot-prefixed
    * (invisible to scans, travels with the table); one file per epoch
    * (`v<epoch>`), each a full manifest listing the files LIVE at that
    * epoch. [[graft.io.Store.readVersion]] resolves those names against
    * the table dir and [[retiredDir]]; `vacuum` prunes old snapshots.
    */
  def historyDir(dir: Path) = new Path(dir, HistoryDirName)

  /** Where replaced data files go instead of being deleted: a retire is
    * one atomic rename, so every prior epoch stays exactly readable until
    * an explicit `vacuum` reclaims the bytes. Hidden from scans.
    */
  def retiredDir(dir: Path) = new Path(dir, RetiredDirName)

  /** A retired file's resting place for a root-relative `name`: flat names
    * go under the table root's retired dir (the historical layout);
    * PARTITIONED names (`dt=v/part-…`) retire into a `.graft_retired`
    * nested INSIDE their own partition directory. The nesting is what
    * keeps partition-column inference exact on mixed live/retired version
    * reads: with `basePath` = table root, Spark's partition parser walks a
    * retired file up through the (non-`k=v`, skipped-while-empty)
    * `.graft_retired` segment to the same `k=v` chain and the same base as
    * a live file — one read serves both sets with the partition columns
    * intact — while ordinary root scans never list dot-dirs at any level,
    * so retired bytes stay invisible to the live table.
    */
  def retiredPath(dir: Path, name: String): Path = {
    val i = name.lastIndexOf('/')
    if (i < 0) new Path(retiredDir(dir), name)
    else new Path(new Path(dir, name.substring(0, i)),
      s"$RetiredDirName/${name.substring(i + 1)}")
  }

  /** A mutator's epoch claim — [[graft.io.Store]]'s multi-writer CAS
    * token for the transition INTO `epoch`. Released by [[write]] when
    * that epoch commits.
    */
  def claimPath(dir: Path, epoch: Long) = new Path(historyDir(dir), s"c$epoch")

  def snapshotPath(dir: Path, epoch: Long) = new Path(historyDir(dir), s"v$epoch")

  /** COMMIT a new epoch — immutable-pointer discipline (Delta's log-suffix
    * rule): the atomic CREATE of the `v<epoch>` history snapshot IS the
    * commit point, and the "current manifest" is simply the max committed
    * `v<N>` ([[read]]). Nothing mutable is ever rewritten on the commit
    * path, which closes the laggard-replay rollback window BY CONSTRUCTION:
    * a stale replayer of an already-applied journal re-attempts the same
    * create-exclusive and LOSES to the existing snapshot — there is no
    * check-then-act anywhere for it to slip through. The commit instant is
    * stamped into the snapshot (`committed_at`), so history listings and
    * `TIMESTAMP AS OF` never depend on filesystem mtimes (a same-epoch
    * stat refresh must not shift an epoch's wall-clock identity).
    *
    * Claim release last keeps the epoch-CAS read-under-claim race-free:
    * nobody can win the next claim until this epoch is fully visible.
    */
  def write(fs: FileSystem, dir: Path, m: LayoutManifest): Unit = {
    // MONOTONIC commit stamp (Delta's commit-timestamp adjustment): clamp
    // to predecessor + 1, so a crashed journal driven to completion much
    // later — or multi-writer clock skew — can never stamp an epoch BEHIND
    // its predecessor. Without the clamp, TIMESTAMP AS OF (newest epoch
    // with committed_at <= target) could resolve past or skip an epoch.
    // Cost: one predecessor snapshot read per commit, metadata only.
    val prev = read(fs, dir).flatMap(_.committedAt).getOrElse(Long.MinValue)
    val stamp = math.max(System.currentTimeMillis, prev + 1L)
    writeLinesCreate(fs, snapshotPath(dir, m.epoch),
      m.copy(committedAt = Some(stamp)).lines)
    fs.delete(claimPath(dir, m.epoch), false)
  }

  /** Same-epoch manifest REFRESH (the erosion-stat cache): rewrites the
    * committed epoch's snapshot in place — the FILE SET per epoch never changes (the
    * invariant readVersion depends on) and `committed_at` is PRESERVED
    * from the read manifest, so the epoch keeps its wall-clock identity.
    * Callers hold the same-epoch claim ([[graft.io.Store]]'s
    * withSameEpochClaim) and release it themselves; a laggard journal
    * replay can never clobber this refresh because its create-exclusive
    * loses to the existing snapshot.
    */
  def rewriteSameEpoch(fs: FileSystem, dir: Path, m: LayoutManifest): Unit =
    writeLinesAtomic(fs, snapshotPath(dir, m.epoch), m.lines)

  /** Atomic small-file write: create under a dot-prefixed tmp name, then
    * rename over the destination with OVERWRITE semantics. A
    * delete-then-rename pair would open a window with NO manifest at all —
    * a crash there silently drops the epoch's stat refresh, and a
    * concurrent READER (the streaming face's offset poll, any
    * resolveSnapshot) hitting the window
    * sees a manifest-less table and fails a read that should have
    * succeeded. Scheme matters: HDFS implements FileContext's OVERWRITE
    * rename natively (atomic), but the LOCAL AbstractFileSystem falls back
    * to exactly the delete-then-rename this method must avoid — caught
    * live by an epoch-stream poll racing an append's manifest write. For
    * file:// the replace rides java.nio ATOMIC_MOVE (rename(2) — kernel
    * atomic), the same primitive the claim CAS uses.
    */
  def writeLinesAtomic(fs: FileSystem, dest: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(dest.getParent, s".w_${dest.getName}")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if ("file" == fs.getScheme) {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(dest.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the raw java.nio move bypasses ChecksumFileSystem, stranding the
      // tmp's hidden `.<name>.crc` sidecar — with UNIQUE tmp/marker names
      // (one journal per commit) that would leak one file per commit into
      // a listing-hot dir instead of overwriting a fixed one
      fs.delete(new Path(tmp.getParent, s".${tmp.getName}.crc"), false)
    } else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri, fs.getConf)
      fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Atomic CREATE-EXCLUSIVE small-file write — the commit primitive: the
    * full content appears at `dest` only if `dest` did not exist; returns
    * false (content discarded) when it already does. There is no window in
    * which a competitor can observe a partial file or clobber an existing
    * one. file://: the content is staged under a unique tmp name, then
    * HARD-LINKED to the destination — link(2) fails EEXIST kernel-atomically
    * (java.nio has no rename-without-replace on Linux: ATOMIC_MOVE maps to
    * rename(2), which always replaces, and Files.move without
    * REPLACE_EXISTING is an exists-check-then-rename). Other schemes: tmp +
    * FileSystem.rename WITHOUT overwrite — HDFS's rename refuses an
    * existing destination atomically. The tmp name carries a UUID so two
    * concurrent replayers of the same journal never share a stage file
    * (one truncating the other's mid-link would link partial content).
    * A crash between the stage and the link leaves the dot-prefixed tmp
    * as hidden debris (skipped by every v/c/marker filter); the explicit
    * no-writer-live admin path ([[graft.io.Store.releaseStaleClaims]])
    * reclaims it — a sweep anywhere concurrent could race a LIVE commit
    * mid-stage.
    */
  def writeLinesCreate(fs: FileSystem, dest: Path, lines: Seq[String]): Boolean = {
    val tmp = new Path(dest.getParent,
      s".w_${dest.getName}_${java.util.UUID.randomUUID.toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    if ("file" == fs.getScheme) {
      val created =
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(tmp.toUri.getPath))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      fs.delete(tmp, false)
      created
    } else {
      val created =
        try fs.rename(tmp, dest)
        catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => false }
      if (!created) {
        fs.delete(tmp, false)
        // FileSystem.rename returns false for MORE than "dest exists"
        // (vanished source, namenode edge states). Only an existing dest
        // is the benign lost-the-race outcome; anything else must be
        // LOUD — swallowing it under a held claim would delete the claim
        // and report a commit whose snapshot never landed (data files on
        // disk, manifest silently behind).
        if (!fs.exists(dest)) throw new java.io.IOException(
          s"atomic create of $dest failed: rename returned false and the " +
            "destination does not exist — filesystem error, not a lost race")
      }
      created
    }
  }

  def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** The newest committed epoch's snapshot number under `dir`'s history —
    * the "current" resolution of the immutable-pointer discipline: one
    * directory listing, no mutable file. Zero-length names are skipped
    * (create-exclusive never leaves one; legacy crash debris could).
    */
  def maxSnapshotEpoch(fs: FileSystem, dir: Path): Option[Long] = {
    val hd = historyDir(dir)
    if (!fs.exists(hd)) return None
    val vs = fs.listStatus(hd).toSeq
      .filter(st => st.isFile && st.getLen > 0L && st.getPath.getName.startsWith("v"))
      .flatMap(st => scala.util.Try(st.getPath.getName.stripPrefix("v").toLong).toOption)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** Whether `dir` is a manifest-tracked table at all: any committed
    * history snapshot.
    */
  def exists(fs: FileSystem, dir: Path): Boolean = maxSnapshotEpoch(fs, dir).isDefined

  /** The COMMITTED manifest: the max `v<N>` history snapshot (the
    * immutable commit pointer — every commit is an atomic create, so the
    * max over the listing can never observe a half-commit or a rollback).
    * The read is retried once through [[readAttempt]]: a commit plus a
    * vacuum landing between the listing and the read can delete the
    * snapshot the listing found (FileNotFoundException), and vacuum
    * always keeps the newest, so the re-list converges. Cost: one history
    * listing + one small read.
    */
  def read(fs: FileSystem, dir: Path): Option[LayoutManifest] =
    readAttempt(fs, dir, retried = false)

  private def readAttempt(fs: FileSystem, dir: Path,
                          retried: Boolean): Option[LayoutManifest] = {
    try {
      maxSnapshotEpoch(fs, dir).map(v => fromLines(readLines(fs, snapshotPath(dir, v))))
    } catch {
      case _: java.io.FileNotFoundException if !retried =>
        readAttempt(fs, dir, retried = true)
    }
  }

  def fromLines(lines: Seq[String]): LayoutManifest = {
    def split(v: String): Seq[String] =
      if (v.isEmpty) Nil else v.split("\t", -1).toSeq
    val kv = lines.filter(_.contains("=")).map { l =>
      val i = l.indexOf('='); (l.substring(0, i), l.substring(i + 1))
    }
    val m = kv.toMap
    LayoutManifest(
      zCols = split(m("zcols")),
      bits = m("bits").toInt,
      files = m("files").toInt,
      epoch = m("epoch").toLong,
      base = split(m("base")),
      appends = kv.collect { case ("append", v) => split(v) },
      touched = m.get("stat_touched").map(_.toDouble),
      partCols = m.get("partcols").map(split).getOrElse(Nil),
      committedAt = m.get("committed_at").map(_.toLong),
      schemaJson = m.get("schema"))
  }
}

/** Per-file bounding rectangle over the layout columns, read from parquet
  * FOOTER statistics — the same min/max the scan planner skips with, at
  * footer-only I/O cost (no data pages touched). `None` bounds mean the
  * file carries no usable stats for that column (all-null chunk, missing
  * stats, non-numeric physical type) and must be treated as
  * overlaps-everything. `name` is the file's path relative to the table
  * root (`dt=…/part-…` on a partitioned layout).
  */
private[graft] case class FileRect(name: String, bytes: Long, rows: Long,
                                   lo: Array[Option[Double]], hi: Array[Option[Double]]) {

  /** Closed-interval intersection in EVERY layout dimension — the
    * condition under which two files compete for the same probes. Missing
    * stats intersect everything (conservative: erodes, never misses) —
    * EXCEPT a zero-row file (Spark's schema-only empty write), which has
    * no stats because it has no data and can never compete with anything;
    * treating it as intersect-everything would let one empty append
    * batch degrade the next scoped pass into a full-table rewrite.
    */
  def intersects(o: FileRect): Boolean =
    rows > 0L && o.rows > 0L && lo.indices.forall { i =>
      (lo(i), hi(i), o.lo(i), o.hi(i)) match {
        case (Some(a), Some(b), Some(c), Some(d)) => a <= d && c <= b
        case _ => true
      }
    }
}

private[graft] object FileRect {

  /** Footer-read the rectangles for `names` under `dir`, in parallel on
    * the EXECUTORS: at 100 TB a table is ~1M files and footer reads are
    * independent metadata I/O — a driver loop would serialize exactly the
    * listing-scale work Spark distributes everywhere else. The hadoop conf
    * rides along as its key-value pairs (Configuration itself is not
    * serializable).
    */
  def readAll(spark: SparkSession, dir: String, names: Seq[String],
              zCols: Seq[String]): Map[String, FileRect] = {
    // keyed by the caller's relative name: basenames repeat across `dt=`
    // dirs, so a basename key would collapse those files into one entry
    if (names.isEmpty) return Map.empty
    // SIZE GATE (optimization round 21): below a handful of files the
    // footer reads are microseconds of driver metadata I/O, while the
    // parallelize job costs a full scheduling round trip (measured ~50 ms
    // job + inter-job gap per call at fixture scale, paid by every
    // erosion probe / scoped pass / merge). Distribute only when the file
    // count can actually use executors; the threshold is deliberately
    // small so any real table (100 TB ~ 1M files) takes the distributed
    // path unchanged.
    if (names.size <= 64) {
      val conf = spark.sparkContext.hadoopConfiguration
      return names.map(n => readOne(conf, dir, n, zCols))
        .map(r => r.name -> r).toMap
    }
    val confKv = spark.sparkContext.hadoopConfiguration.asScala
      .map(e => (e.getKey, e.getValue)).toSeq
    val slices = math.min(names.size, spark.sparkContext.defaultParallelism)
    // conf reconstruction once per PARTITION, not per file: at ~1M files
    // per 100 TB table a per-file rebuild of hundreds of conf entries
    // would rival the footer I/O this pass exists to parallelize
    spark.sparkContext.parallelize(names, slices).mapPartitions { it =>
      val conf = new Configuration(false)
      confKv.foreach { case (k, v) => conf.set(k, v) }
      it.map(name => readOne(conf, dir, name, zCols))
    }.collect().map(r => r.name -> r).toMap
  }

  /** One file's rectangle: per z-column min-of-mins / max-of-maxs across
    * row-group column chunks. Physical parquet orderings for every type
    * the z contract admits (int32/int64/float/double, timestamps as int64
    * micros, dates as int32 days) are monotone in the numeric value, so
    * comparing as double preserves intersection truth.
    */
  def readOne(conf: Configuration, dir: String, name: String,
              zCols: Seq[String]): FileRect = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val file = new Path(dir, name)
    val fs = file.getFileSystem(conf)
    val bytes = fs.getFileStatus(file).getLen
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val lo = Array.fill[Option[Double]](zCols.size)(None)
      val hi = Array.fill[Option[Double]](zCols.size)(None)
      val ok = Array.fill(zCols.size)(true)
      for (b <- blocks; c <- b.getColumns.asScala) {
        val i = zCols.indexOf(c.getPath.toDotString)
        if (i >= 0) {
          val st = c.getStatistics
          val mm = for {
            s <- Option(st) if s.hasNonNullValue
            mn <- num(s.genericGetMin.asInstanceOf[AnyRef])
            mx <- num(s.genericGetMax.asInstanceOf[AnyRef])
          } yield (mn, mx)
          mm match {
            case Some((mn, mx)) if ok(i) =>
              lo(i) = Some(lo(i).fold(mn)(math.min(_, mn)))
              hi(i) = Some(hi(i).fold(mx)(math.max(_, mx)))
            case _ => // one statless chunk poisons the whole column's bound
              ok(i) = false; lo(i) = None; hi(i) = None
          }
        }
      }
      FileRect(name, bytes, rows, lo, hi)
    } finally reader.close()
  }

  private def num(v: AnyRef): Option[Double] = v match {
    case n: java.lang.Number => Some(n.doubleValue)
    case _ => None
  }
}

/** The scoped-commit journal: [[graft.io.Store.scopedRecluster]] cannot
  * promote several files and delete several others in one atomic rename,
  * so it writes this marker FIRST (atomically, after the rewritten data
  * is fully staged under the commit's own hidden stage dir) and then
  * replays it — every step idempotent — until the marker is removed. A
  * crash anywhere after the marker re-drives to completion on the next
  * entry; a crash before it leaves only hidden stage garbage and an
  * intact table.
  *
  * Marker lines: `tmp=<stageDirName>` (the commit's stage dir, first
  * line), `rename=<tmpName>\t<dstName>`, `delete=<name>` (gone for
  * good — tables without layout provenance), `retire=<name>` (moved into
  * [[LayoutManifest.retiredDir]] so prior epochs stay readable until
  * vacuum — manifest-tracked tables), and the replacement manifest
  * embedded as `m:<manifest line>`.
  */
private[graft] object ScopedCommit {

  val MarkerName = ".graft_scoped_commit"
  val TmpDirName = ".tmp_scoped"

  /** One commit's journal: its own UNIQUE marker file plus the lines it
    * holds. The unique name is load-bearing: a replayer deletes exactly
    * ITS journal's file when done — a successor's journal is a different
    * file, so a check-then-delete window (laggard re-reads the marker,
    * successor overwrites it, laggard deletes the successor's journal)
    * cannot exist at all.
    */
  case class Journal(marker: Path, lines: Seq[String])

  /** Journals live in the HIDDEN history dir (`.graft_history/`): the
    * recovery check that every mutator AND every per-statement DSv2 read
    * runs must stay O(1)-ish — listing the TABLE root to find markers
    * would be an O(data files) metadata pass per statement on a 100 TB
    * table (the history dir holds epoch-count entries, bounded by
    * vacuum). Plain (manifest-less) tables get the dir created on their
    * first journal; it is dot-prefixed, invisible to scans, and travels
    * with the table.
    */
  def newMarkerPath(dir: Path): Path =
    new Path(LayoutManifest.historyDir(dir),
      s"$MarkerName-${java.util.UUID.randomUUID.toString.take(8)}")

  /** Every journal marker under `dir`'s history dir, name-sorted for
    * deterministic replay order — replay is idempotent and journals touch
    * disjoint files (epoch-unique promote names, per-journal stage dirs),
    * so order is correctness-neutral. Cost: one small-dir listing.
    */
  def markers(fs: FileSystem, dir: Path): Seq[Path] = {
    val hd = LayoutManifest.historyDir(dir)
    if (!fs.exists(hd)) Nil
    else fs.listStatus(hd).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(MarkerName))
      .map(_.getPath).sortBy(_.getName)
  }

  def anyMarker(fs: FileSystem, dir: Path): Boolean = markers(fs, dir).nonEmpty

  /** A FRESH stage dir for one commit attempt — unique per journal, and
    * recorded in the journal's own `tmp=` line, so a LAGGARD replayer of
    * an old journal can only ever clean its own journal's stage, never a
    * successor's (a shared fixed name would be a real race: laggard
    * wakes after the successor claimed and staged, deletes the shared
    * dir, successor's renames silently no-op).
    */
  def newStageDir(dir: Path): Path =
    new Path(dir, s"$TmpDirName-${java.util.UUID.randomUUID.toString.take(8)}")

  /** Delete every stage dir under `dir` — crashed attempts' garbage. Safe
    * ONLY while holding the table's epoch claim (no other mutator can be
    * mid-stage) or from the explicit no-writer-is-live admin path; any
    * journaled stage was already fully promoted before the claim could
    * change hands (replay applies every step before the manifest write
    * that releases it).
    */
  def sweepStages(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(TmpDirName))
        fs.delete(st.getPath, true)
    }

  /** Write the journal to a FRESH unique marker and return the [[Journal]],
    * so the committing writer can replay from what it KNOWS it wrote
    * instead of re-reading the marker — a reader-driven [[recover]] racing
    * the writer may have already replayed and deleted it, and a marker
    * re-read would surface FileNotFoundException from a mutation that
    * actually committed (an app-level retry of which would double-apply
    * it).
    */
  def write(fs: FileSystem, dir: Path, renames: Seq[(String, String)],
            deletes: Seq[String], manifest: Option[LayoutManifest],
            retires: Seq[String] = Nil, stage: Path): Journal = {
    // the journal records ITS stage dir (`tmp=` line); replay renames out
    // of and cleans exactly that dir
    val lines = Seq(s"tmp=${stage.getName}") ++
      renames.map { case (s, d) => s"rename=$s\t$d" } ++
      deletes.map(d => s"delete=$d") ++
      retires.map(r => s"retire=$r") ++
      manifest.toSeq.flatMap(_.lines).map(l => s"m:$l")
    val m = newMarkerPath(dir)
    LayoutManifest.writeLinesAtomic(fs, m, lines)
    Journal(m, lines)
  }

  /** Replay (or clean up) every interrupted scoped commit under `dir`.
    * Returns true when a journaled commit was driven to completion.
    * Called on entry by every lakehouse entry point, reads included
    * (most through Store's `recoverAndRead`): the journal is the only commit protocol
    * of a table's data files, whole-table rewrites included, so this is
    * the only crash recovery a table needs.
    * More than one marker can coexist briefly (a fully-applied journal
    * whose laggard writer has not yet deleted its own file, beside a
    * successor's pending one); replay of an applied journal is a pure
    * no-op chain, so driving all of them is safe in any order.
    */
  def recover(fs: FileSystem, dir: Path): Boolean = {
    // No journal: any tmp dir here is pre-commit stage data — EITHER a
    // crashed mutator's garbage OR a live claim holder's in-progress
    // stage (claim first, stage second is every mutator's order), and
    // no check-then-act test can tell them apart race-free. So recovery
    // never touches it: hidden from scans either way, it is reclaimed by
    // the next mutator's own under-claim delete before staging, or by
    // releaseStaleClaims for a table whose writer died. Deleting it here
    // could destroy a live stage and turn that mutator's commit into a
    // silently empty epoch.
    var replayed = false
    markers(fs, dir).foreach { m =>
      // reader-driven recovery is a MAINLINE concurrent path (every SQL
      // statement through the DSv2 face resolves through it): a marker can
      // vanish between the listing and this read because a concurrent
      // replayer — the committing writer itself, or another reader —
      // finished that commit. That is success, not a crash. ONLY the
      // marker read gets that tolerance: an FNF thrown by replay() itself
      // (a mid-chain resolution genuinely failing) must stay loud — the
      // pre-r20 whole-body swallow would skip the replay silently, leave
      // the marker pending forever, and re-attempt on every statement.
      val lines =
        try Some(LayoutManifest.readLines(fs, m))
        catch { case _: java.io.FileNotFoundException => None }
      lines.foreach { ls =>
        replay(fs, dir, Journal(m, ls))
        replayed = true
      }
    }
    replayed
  }

  def replay(fs: FileSystem, dir: Path, j: Journal): Unit = {
    val lines = j.lines
    val tmp = new Path(dir, lines.collectFirst {
      case l if l.startsWith("tmp=") => l.stripPrefix("tmp=")
    }.get)
    // Two replayers of the SAME journal may run concurrently (the
    // committing writer and a reader-driven recover, or two readers): every
    // step below treats "src gone but dst present" as that step already
    // replayed — by this replayer earlier, or by the concurrent one — and
    // only a rename that fails with the work genuinely not done stays loud.
    lines.foreach {
      case l if l.startsWith("rename=") =>
        val Array(src, dst) = l.stripPrefix("rename=").split("\t", 2)
        val s = new Path(tmp, src); val d = new Path(dir, dst)
        // idempotent: a rename that already ran leaves src missing
        if (fs.exists(s)) {
          // partitioned promotes target `key=value/` subdirs that may not
          // exist yet (an UPDATE moving rows to a new partition value) —
          // rename into a missing parent fails on local/HDFS
          if (dst.contains('/')) fs.mkdirs(d.getParent)
          if (!fs.rename(s, d) && !(fs.exists(d) && !fs.exists(s)))
            throw new IllegalStateException(s"scoped commit: rename $s -> $d failed")
        }
      case l if l.startsWith("delete=") =>
        fs.delete(new Path(dir, l.stripPrefix("delete=")), false)
      case l if l.startsWith("retire=") =>
        // atomic per-file move into the hidden retired dir — prior epochs'
        // manifests keep resolving the name there until vacuum. Idempotent:
        // a retire that already ran leaves src missing (and a vacuum racing
        // a replay cannot exist — vacuum recovers the journal on entry).
        val name = l.stripPrefix("retire=")
        val src = new Path(dir, name)
        if (fs.exists(src)) {
          val dst = LayoutManifest.retiredPath(dir, name)
          fs.mkdirs(dst.getParent)
          // epoch-prefixed promote names make collisions impossible by
          // construction; a same-named leftover can only be this exact
          // retire replayed mid-rename — the bytes are identical
          if (fs.exists(dst)) fs.delete(src, false)
          else if (!fs.rename(src, dst) && !(fs.exists(dst) && !fs.exists(src)))
            throw new IllegalStateException(s"scoped commit: retire $src -> $dst failed")
        }
      case _ => ()
    }
    // stage cleanup: `tmp` is THIS journal's own per-commit dir (unique
    // name recorded in the journal), so even an arbitrarily late laggard
    // replay can only remove its own journal's leftovers, never a
    // successor's in-progress stage. Every rename out of it already
    // replayed above; only commit crumbs remain.
    fs.delete(tmp, true)
    val mLines = lines.filter(_.startsWith("m:")).map(_.stripPrefix("m:"))
    // no manifest section = the table has no layout provenance (e.g. a
    // copy-on-write delete on a plain parquet table) — leave it that way.
    // The write is the create-exclusive snapshot commit: an arbitrarily
    // late laggard replaying an already-applied journal re-attempts the
    // same create and LOSES to the existing v<epoch> — it cannot roll the
    // table back, and it cannot clobber a later same-epoch stat refresh.
    // The forward-only guard handles the one case the create cannot: a
    // laggard whose APPLIED epoch was since VACUUMED (snapshot deleted)
    // would otherwise re-create a ghost snapshot whose files are gone —
    // listed by $history, unreadable by readVersion. The guard is not a
    // rollback-prevention check-then-act anymore (epochs never decrease,
    // so "committed >= mine" is stable once true); if it races the
    // genuine first commit, the create-exclusive still arbitrates.
    if (mLines.nonEmpty) {
      val jm = LayoutManifest.fromLines(mLines)
      if (LayoutManifest.read(fs, dir).forall(_.epoch < jm.epoch))
        LayoutManifest.write(fs, dir, jm)
    }
    // Delete THIS journal's own marker file — unique name, so a laggard
    // can never delete a successor's journal.
    fs.delete(j.marker, false)
  }
}
