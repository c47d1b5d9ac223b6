package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Storage layer: reference-parity CSV histories plus the partitioned
  * Parquet layout that is the real sink at scale (SURVEY.md §2.1 S6-S8).
  *
  * The reference's CSV is the inter-job IR (`raw_data.py:263`,
  * `data_engineering.py:130`). Each CSV history is a flat directory of
  * DAY FILES: one headered `part-<yyyy-MM-dd>-<id>.csv` per UTC day, its
  * rows sorted, so name order is datetime order. Concatenation law: the
  * header plus every day file's body, in name order, is byte-for-byte the
  * reference's single sorted file. A daily write replaces only its own
  * days' files, so adding 24 rows never rewrites the history. The scale
  * path is date-partitioned Parquet: daily increments overwrite only their
  * own `dt=` partitions (dynamic partition overwrite), so a 100 TB history
  * is never rewritten to upsert 24 rows either.
  */
class Store(spark: SparkSession, baseDir: String) {

  private def fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The file system the CSV day files are listed, created and renamed
    * through: for the local file system, [[NioPermissionFs]] (no checksum
    * files to create and rename alongside, no forked `chmod`); any other
    * file system as it is.
    */
  private lazy val dayFs: org.apache.hadoop.fs.FileSystem = fs match {
    case _: org.apache.hadoop.fs.LocalFileSystem =>
      val local = new NioPermissionFs
      local.initialize(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
      local
    case other => other
  }

  /** Label the Spark jobs `body` submits (guide §1.5) so the UI and the
    * Profile job timeline attribute every lakehouse mutation's jobs to
    * their phase (locate scan / sample / staging write / …). Thread-local
    * and restored, so nested labels and caller labels survive.
    */
  private def labeled[T](desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft: $desc")
    try body finally sc.setJobDescription(prev)
  }

  def exists(rel: String): Boolean = fs.exists(new Path(s"$baseDir/$rel"))

  /** S6: schema'd scan of a whole CSV history (no inference — SURVEY
    * §1.1). The day-file directory is flat, so the frame has exactly the
    * schema's columns and building it lists one directory, with no job.
    */
  def readCsv(rel: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(s"$baseDir/$rel")

  /** S7: conditional scan with declared-empty fallback (`data_engineering.py:21-28`). */
  def readCsvOrEmpty(rel: String, schema: StructType): DataFrame =
    if (exists(rel)) readCsv(rel, schema) else emptyFrame(schema)

  private def emptyFrame(schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The day files of CSV history `rel`, by day, from ONE listing that
    * also finishes any day swap a crash interrupted (see
    * [[Store.recoverParks]]). Empty when the history does not exist yet.
    * A visible file that is not a day file — a history in the earlier
    * single-file layout — fails loudly.
    */
  private[graft] def csvDays(rel: String): Map[String, Store.DayFile] = {
    val dir = new Path(s"$baseDir/$rel")
    val names =
      try dayFs.listStatus(dir).toSeq.map(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => return Map.empty }
    val live = names.filterNot(Store.hidden).map(n => Store.DayFile.parse(n).getOrElse(
      throw new IllegalStateException(s"$rel holds $n, which is not a day file " +
        "(part-<yyyy-MM-dd>-<id>.csv): a CSV history in another layout")))
    val restored = Store.recoverParks(dayFs, dir, names)
    (live ++ restored.flatMap(Store.DayFile.parse)).map(f => f.day -> f).toMap
  }

  /** Scan only `files` of CSV history `rel`: one listing of the directory,
    * narrowed by a file-name filter, so no per-file probe and no listing
    * job however many days are asked for.
    */
  private[graft] def readCsvDays(rel: String, schema: StructType,
                                 files: Iterable[Store.DayFile]): DataFrame =
    if (files.isEmpty) emptyFrame(schema)
    else spark.read.schema(schema).option("header", "true")
      .option("pathGlobFilter", files.map(_.name).mkString("{", ",", "}"))
      .csv(s"$baseDir/$rel")

  /** S8: sorted, headered CSV day files (`raw_data.py:263`,
    * `data_engineering.py:129-130`): the frame's rows land in one file per
    * UTC day of `sortCol` (a timestamp), each sorted by it, and ONLY the
    * days present in the frame are replaced — every other day file is
    * never opened or moved. Each written day gets a fresh write id, the
    * raw history's per-day watermark (see [[graft.jobs.FeatureEngineeringJob]]).
    * Export path only, NOT the scale sink.
    */
  def writeCsv(df: DataFrame, rel: String, sortCol: String = "datetime"): Unit =
    writeCsvDays(df, rel, sortCol, _ => Store.newWriteId())

  /** [[writeCsv]] with the id of each written day chosen by `idOf`.
    *
    * One Spark job sorts the frame in one partition (unlike a global
    * `orderBy`, no range-partitioning sample job) and formats each row
    * with `to_csv`, the CSV writer's own generator, as is the header: a
    * day file is the single-file writer's output restricted to its day.
    * The calling process writes the files, through [[dayFs]]: a Spark
    * `partitionBy` write creates a checksum file and a directory per day
    * besides the file, and on a Hadoop local file system without native
    * IO each of those forks a `chmod`, which spent seconds of a 90-day
    * backfill. The plans writing here may READ the files they replace, so
    * each day stages in a sibling tmp dir, then swaps in with the
    * park-aside rename ([[Store.swapOver]]) under its new name. A crash
    * between a day's two renames leaves that day parked, and the next
    * [[csvDays]] listing restores it.
    */
  private[graft] def writeCsvDays(df: DataFrame, rel: String, sortCol: String,
                                  idOf: String => String): Unit = {
    val target = new Path(s"$baseDir/$rel")
    // tmp is a SIBLING of the leaf (dot-prefix on the last path segment
    // only), so a nested rel like "a/b.csv" stays inside its parent dir
    // instead of creating a stray ".tmp_a/" tree.
    val tmp = new Path(target.getParent, s".tmp_${target.getName}")
    val current = csvDays(rel)
    val lines = df.withColumn(Store.DayCol, Store.utcDay(col(sortCol)).cast("string"))
      .repartition(1)
      .sortWithinPartitions(col(Store.DayCol), col(sortCol))
      .select(col(Store.DayCol), to_csv(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)))
      .collect()
    val header = Store.csvHeader(df.schema, spark.conf.get("spark.sql.session.timeZone"))
    val days = lines.toSeq.groupBy(r => String.valueOf(r.getString(0))).toSeq.map { case (day, rows) =>
      val file = Store.DayFile(day, idOf(day))
      require(Store.DayFile.parse(file.name).contains(file),
        s"writeCsv($rel): rows whose $sortCol has no day, or a bad id (${file.name})")
      file -> rows.map(_.getString(1))
    }
    dayFs.delete(tmp, true)
    dayFs.mkdirs(target)
    dayFs.mkdirs(tmp)
    days.foreach { case (file, rows) =>
      val staged = new Path(tmp, file.name)
      val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        dayFs.create(staged, false), java.nio.charset.StandardCharsets.UTF_8))
      try {
        out.write(header)
        rows.foreach { r => out.write(r); out.write('\n') }
      } finally out.close()
      Store.swapOver(dayFs, staged, new Path(target, file.name),
        current.get(file.day).map(f => new Path(target, f.name)))
    }
    dayFs.delete(tmp, true)
  }

  /** Rename day file `from` of CSV history `rel` to `to`: one atomic
    * rename, for a watermark that moves while the rows stay the same.
    */
  private[graft] def renameCsvDay(rel: String, from: Store.DayFile, to: Store.DayFile): Unit =
    if (!dayFs.rename(new Path(s"$baseDir/$rel/${from.name}"), new Path(s"$baseDir/$rel/${to.name}")))
      throw new IllegalStateException(s"rename of $rel/${from.name} to ${to.name} failed")

  /** Scale sink: Parquet partitioned by day. With dynamic partition
    * overwrite, writing a delta touches only the delta's partitions.
    */
  def writePartitioned(df: DataFrame, rel: String, tsCol: String = "datetime"): Unit =
    df.withColumn("dt", Store.utcDay(col(tsCol)))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dt")
      .parquet(s"$baseDir/$rel")

  /** MANAGED date-partitioned table: [[writePartitioned]]'s layout under
    * the same manifest-epoch machinery as the curve stores — every write
    * commits an epoch (journaled, CAS-guarded), replaced files RETIRE into
    * a `.graft_retired` nested inside their own partition directory
    * ([[LayoutManifest.retiredPath]] explains why nesting, not the root
    * retired dir, is what keeps partition-column inference exact on mixed
    * live/retired version reads), and [[readVersion]]/[[readSnapshot]]/
    * `VERSION AS OF` serve any un-vacuumed epoch. This closes the gap the
    * plain [[writePartitioned]] shape leaves on the MOST COMMON ingest
    * layout (the reference's own daily dt-shaped append,
    * `/root/reference/.github/workflows/raw_data_collection.yml:4-6`): a
    * takedown on a manifest-less partitioned table is unrecoverable.
    *
    * This is the full-replace face (epoch 0 on a fresh table; a replace of
    * a manifest-tracked table retires every current file); the daily
    * ingest mutator is [[upsertPartitionsManaged]]. File identities are
    * root-relative (`dt=v/part-…`) — the same keying the partitioned COW
    * already uses — recorded as a flat list in the manifest: partition
    * provenance per epoch falls out of the names themselves, so a
    * per-partition manifest section would be redundant bookkeeping.
    */
  def writePartitionedManaged(df: DataFrame, rel: String,
                              tsCol: String = "datetime"): Unit = {
    val dir = new Path(s"$baseDir/$rel")
    val m0 = recoverAndRead(dir)
    val epoch = m0.map(_.epoch + 1).getOrElse(0L)
    withEpochClaim(dir, epoch, m0.map(_.epoch).getOrElse(-1L)) {
      val current = if (fs.exists(dir)) listDataFilesDeep(dir) else Nil
      val tmp = ScopedCommit.newStageDir(dir)
      ScopedCommit.sweepStages(fs, dir)
      val stagedDf = df.withColumn("dt", Store.utcDay(col(tsCol)))
      stagedDf.write.mode("overwrite").partitionBy("dt").parquet(tmp.toString)
      var staged = listDataFilesDeep(tmp)
      // an EMPTY replace stages zero files (partitionBy writers open files
      // lazily) — a zero-file manifest would make every later manifest
      // read throw; promote one schema-only flat carrier instead, the
      // same guard the COW full-wipe path carries
      if (staged.isEmpty) {
        stagedDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        staged = listDataFilesDeep(tmp)
      }
      val renames = staged.map(s => s -> promoteName(s, "w", epoch))
      // the replace defines the declared schema (dt included — FileTable
      // and basePath reads subtract/re-append partition columns)
      val newM = LayoutManifest(Nil, 0, 0, epoch,
        base = renames.map(_._2).sorted, appends = Nil,
        partCols = Seq("dt"),
        schemaJson = Some(Store.nullableSchemaJson(stagedDf.schema)))
      // a manifest-less target (fresh dir or a plain writePartitioned
      // table being adopted) has no history to serve — delete its files
      // and start history at this epoch; a tracked table retires them
      ScopedCommit.replay(fs, dir, ScopedCommit.write(fs, dir, renames,
        deletes = if (m0.isDefined) Nil else current, manifest = Some(newM),
        retires = if (m0.isDefined) current else Nil, stage = tmp))
    }
    refreshCatalog(dir)
  }

  /** The managed daily-ingest mutator: dynamic partition overwrite AS AN
    * EPOCH. The batch stages under the hidden tmp dir partitioned by day;
    * every current file of a TOUCHED partition retires (prior epochs keep
    * resolving it from its in-partition retired dir), untouched
    * partitions' files never open or move (spec pins byte/mtime
    * identity), and the journaled commit makes batch + manifest one
    * replayable unit. At 100 TB this is the nightly append: cost scales
    * with the BATCH's partitions, never the table, and the epoch CAS
    * serializes it against maintenance exactly like every other mutator.
    */
  def upsertPartitionsManaged(df: DataFrame, rel: String,
                              tsCol: String = "datetime"): Unit = {
    // OPTIMISTIC CONCURRENCY (Delta's protocol shape): a CAS conflict
    // retries the WHOLE attempt against the new table state — but only
    // when the interloping commits touched partitions DISJOINT from this
    // batch's days (checked below per retry). Two nightly jobs landing
    // different days serialize automatically; two writers racing the SAME
    // day stay loud (last-writer-wins-by-accident is exactly what the CAS
    // exists to prevent). The batch's day set is computed once, lazily —
    // only a conflicted retry pays the one distinct-scan job.
    val batchParts = new Store.Lazily(
      df.select(Store.utcDay(col(tsCol)).cast("string")).distinct()
        .collect().map(r => s"dt=${r.getString(0)}").toSet)
    Store.retryDisjointCas(rel, s"$baseDir/$rel", fs,
      overlap = changedParts =>
        changedParts.exists(p => p.isEmpty || batchParts.get(p))) {
      upsertPartitionsOnce(df, rel, tsCol)
    }
  }

  private def upsertPartitionsOnce(df: DataFrame, rel: String,
                                   tsCol: String): Unit = {
    val dir = new Path(s"$baseDir/$rel")
    val m0 = recoverAndRead(dir)
    // fail-first: a curve-clustered manifest must abort BEFORE any motion
    m0.foreach(mf => require(mf.isPartitioned,
      s"$rel is curve-clustered (zcols=${mf.zCols.mkString(",")}) — " +
        "partition upsert applies to managed partitioned stores; use appendZordered"))
    val current = if (fs.exists(dir)) listDataFilesDeep(dir) else Nil
    // adopting a foreign table: only a pure key=value layout can carry the
    // partitioned manifest (root-level files would mix two layouts)
    require(m0.isDefined || current.forall(_.contains('/')),
      s"$rel holds root-level data files — not a partitioned layout; " +
        "writePartitionedManaged replaces it wholesale instead")
    val dayed = df.withColumn("dt", Store.utcDay(col(tsCol)))
    validateAgainstDeclared(dayed.schema, m0, rel)
    val epoch = m0.map(_.epoch + 1).getOrElse(0L)
    withEpochClaim(dir, epoch, m0.map(_.epoch).getOrElse(-1L)) {
      val tmp = ScopedCommit.newStageDir(dir)
      ScopedCommit.sweepStages(fs, dir)
      dayed.write.mode("overwrite").partitionBy("dt").parquet(tmp.toString)
      val staged = listDataFilesDeep(tmp)
      // an EMPTY batch touches no partition: commit nothing, release the
      // claim this pass took (a zero-file manifest on a fresh table would
      // poison every later manifest read; on a live table an epoch bump
      // that changes nothing only burns history)
      if (staged.isEmpty) {
        fs.delete(LayoutManifest.claimPath(dir, epoch), false)
        fs.delete(tmp, true)
      } else {
        val touchedDirs = staged.filter(_.contains('/'))
          .map(s => s.substring(0, s.lastIndexOf('/'))).toSet
        val replaced = current.filter(n =>
          n.contains('/') && touchedDirs(n.substring(0, n.lastIndexOf('/'))))
        val renames = staged.map(s => s -> promoteName(s, "p", epoch))
        val keep = current.filterNot(replaced.toSet)
        val newM = LayoutManifest(Nil, 0, 0, epoch,
          base = (keep ++ renames.map(_._2)).sorted, appends = Nil,
          partCols = Seq("dt"),
          // evolved/declared schema rides through; a FRESH table (no kept
          // foreign files) declares the batch schema for inference-free
          // reads — an adopted one keeps inference until a replace
          schemaJson = m0.flatMap(_.schemaJson).orElse(
            if (current.isEmpty) Some(Store.nullableSchemaJson(dayed.schema))
            else None))
        // adopted (manifest-less) tables have no prior epoch to serve, so
        // their replaced files delete; tracked tables retire them
        ScopedCommit.replay(fs, dir, ScopedCommit.write(fs, dir, renames,
          deletes = if (m0.isDefined) Nil else replaced, manifest = Some(newM),
          retires = if (m0.isDefined) replaced else Nil, stage = tmp))
      }
    }
    refreshCatalog(dir)
  }

  /** Journal promote name for a staged file: epoch-prefixed basename, the
    * partition dirs (if any) riding through unchanged — flat names reduce
    * to the plain `part-<prefix><epoch>-…` form.
    */
  private def promoteName(s: String, prefix: String, epoch: Long): String = {
    val i = s.lastIndexOf('/')
    val (d, b) = if (i < 0) ("", s) else (s.substring(0, i + 1), s.substring(i + 1))
    s"${d}part-$prefix$epoch-${b.stripPrefix("part-")}"
  }

  /** SCHEMA EVOLUTION on a manifest-tracked store — `ALTER TABLE ADD
    * COLUMN(S)` without rewriting a byte of data: commits a new epoch with
    * the SAME file set whose snapshot carries the WIDENED schema
    * (`schema=` line). Every reader — [[readSnapshot]]/[[readVersion]],
    * the DSv2 catalog, the COW mutators' own region reads — projects the
    * files to the epoch's declared schema, so pre-evolution files read
    * the new columns as null and each epoch keeps ITS OWN schema under
    * `VERSION AS OF` (a pre-ALTER epoch still shows the narrow one). At
    * 100 TB this is the difference between a metadata commit and a full
    * table rewrite — the Delta/Iceberg add-column discipline.
    *
    * Additive only, enforced loudly: new columns must be NEW names (no
    * case-insensitive collision) and nullable (existing files read them
    * as null — a NOT NULL add would be a lie). Drops, renames, and type
    * changes are refused at the catalog face ([[graft.sql.GraftCatalog]]):
    * they change what EXISTING bytes mean and need a rewrite. On a
    * partitioned manifest the new columns slot BEFORE the partition
    * columns, matching how Spark appends partition columns to a scan's
    * data schema.
    */
  def addColumns(rel: String, cols: StructType): Unit = {
    require(cols.nonEmpty, "addColumns needs at least one new column")
    val dir = new Path(s"$baseDir/$rel")
    val m0 = recoverAndRead(dir).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — schema evolution needs a manifest-tracked " +
        "store (writeZordered/writePartitionedManaged provenance)"))
    cols.foreach(f => require(f.nullable,
      s"new column ${f.name} must be nullable — existing files read it as null"))
    // current FULL table schema: the declared one, else the files'
    // physical schema (+ reconstructed partition columns)
    val current = m0.schema.getOrElse(readSnapshot(rel).schema)
    cols.foreach(f => require(
      !current.fieldNames.exists(_.equalsIgnoreCase(f.name)),
      s"column ${f.name} already exists in $rel (${current.fieldNames.mkString(", ")})"))
    val widened =
      if (m0.isPartitioned) {
        val (data, part) = current.fields.partition(f => !m0.partCols.contains(f.name))
        StructType(data ++ cols.fields ++ part)
      } else StructType(current.fields ++ cols.fields)
    // a pure-metadata commit: same file set, next epoch, widened schema —
    // one atomic snapshot create under the epoch CAS, nothing to journal
    withEpochClaim(dir, m0.epoch + 1, m0.epoch) {
      LayoutManifest.write(fs, dir,
        m0.copy(epoch = m0.epoch + 1, schemaJson = Some(widened.json)))
    }
    refreshCatalog(dir)
  }

  /** Columnar ORC sink/scan — the second interchange format beside
    * parquet (some warehouse stacks are ORC-native). Spark's built-in ORC
    * datasource keeps the same scale machinery the parquet paths rely on:
    * column pruning, predicate pushdown into stripe/row-group skipping
    * (StoreSpec pins `PushedFilters` on a filtered read-back), split-able
    * files, vectorized reads. Same overwrite discipline as every other
    * sink here.
    */
  def writeOrc(df: DataFrame, rel: String): Unit =
    df.write.mode("overwrite").orc(s"$baseDir/$rel")

  def readOrc(rel: String): DataFrame = spark.read.orc(s"$baseDir/$rel")

  /** Cluster-sorted parquet layout for data skipping on a CONTINUOUS key —
    * the file-level sibling of [[writePartitioned]]'s directory pruning
    * (x46): `repartitionByRange` gives each output file a narrow,
    * non-overlapping slice of the cluster key and the within-partition
    * sort tightens every row group's min/max, so a range or equality
    * predicate matches rows in only the few files/row groups whose stats
    * overlap it — the scan's pushed filter skips the rest without a
    * partition column. Use when the key is too high-cardinality to be a
    * directory (user ids, timestamps at second grain, content hashes):
    * at 100 TB, `files` scales to corpus_bytes / target_file_size and the
    * range exchange is the one-time layout cost every later scan
    * amortizes. x51 proves the effect end-to-end: a 10-of-150 key-range
    * scan touches 1 of 8 files (PlanSpec pins the touched-file count).
    */
  def writeClustered(df: DataFrame, rel: String, clusterCols: Seq[String],
                     files: Int = 8): Unit =
    df.repartitionByRange(files, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$baseDir/$rel")

  /** Multi-key clustered parquet layout — [[writeClustered]]'s answer when
    * queries filter on TWO (or more) high-cardinality columns from one
    * copy of the data. A linear sort clusters only its leading key: the
    * second column's values scatter across every file, so its predicates
    * skip nothing. Each column maps to its QUANTILE-BUCKET rank
    * (equal-mass buckets from a bounded `approxQuantile` sketch, so a
    * skewed column still spreads across the curve), the ranks combine
    * into a space-filling-curve index, and the frame range-partitions +
    * sorts on it: every file gets a small hyper-rectangle of the key
    * space, so each file's parquet min/max stats are tight on EVERY
    * curve column at once and a single-column predicate on ANY of them
    * prunes at file/row-group level (PlanSpec pins both single-column
    * file subsets on one layout). The curve value is layout metadata
    * only — it is dropped before the write; scans prune through the
    * ordinary pushed filters on the data columns.
    *
    * Curve choice: HILBERT everywhere, adopted over Morton/Z on measured
    * skipping wins at the same one-time layout cost. Two columns ride the
    * classic xy2d form ([[graft.functions.HilbertIndex2]] — CurveAb,
    * PLANS.md round 14: ~33% fewer files per single-column predicate and
    * ~47% fewer per two-sided at 256 files); three or more ride
    * Skilling's n-D transform ([[graft.functions.HilbertIndexN]] —
    * CurveAb 3-D tier, PLANS.md round 15: ~20% fewer per single-column
    * and ~41% fewer per pair at 256 files on (user_id, ts, value);
    * added dimensions dilute any curve's locality but the no-jump
    * advantage stays decisive).
    *
    * Scale shape: one range exchange at write time (same one-time layout
    * cost as [[writeClustered]]); the boundary sketch is
    * O(bits * columns) driver state. Columns must be castable to double
    * (numerics, timestamps); nulls sort into the first bucket.
    */
  def writeZordered(df: DataFrame, rel: String, zCols: Seq[String],
                    files: Int = 8, bits: Int = 6): Unit = {
    val dir = new Path(s"$baseDir/$rel")
    // the replace DEFINES the table's declared schema (an evolved wider
    // schema from a prior life is gone — this epoch's content is df)
    replaceZordered(dir, recoverAndRead(dir), df, zCols, files, bits,
      Some(Store.nullableSchemaJson(df.schema)))
  }

  /** The one commit path of a whole-table rewrite, shared by
    * [[writeZordered]] and [[recluster]]: `src`, laid out on the curve,
    * replaces every data file of `dir` as the epoch after `m0`, recording
    * `schemaJson` as the declared schema. `m0` is the manifest the caller
    * read, and `src` must be read at that epoch: the claim checks it, so
    * a commit landing after that read fails this write loudly instead of
    * being overwritten by a stale frame.
    */
  private def replaceZordered(dir: Path, m0: Option[LayoutManifest], src: DataFrame,
                              zCols: Seq[String], files: Int, bits: Int,
                              schemaJson: Option[String]): Unit = {
    // The replace-table write runs under the SAME epoch CAS as every other
    // mutator, and it NEVER hands the table directory to a Spark overwrite
    // (which would delete the hidden history/retired dirs and any live
    // claim along with the data): the new layout is staged under the
    // hidden tmp dir and promoted through the journaled commit. On a
    // manifest-tracked table the replaced files are RETIRED — a full
    // overwrite is a mutation like any other, so prior epochs stay
    // readable until vacuum; a manifest-less directory (plain parquet or
    // fresh) has no history to serve, so its files are deleted and the
    // table starts its history at epoch 0.
    // ONE epoch value feeds the claim, the promote names, and the manifest
    // — a drifting second computation could claim one epoch and journal
    // another, wedging the table behind an unreleasable claim
    val epoch = m0.map(_.epoch + 1).getOrElse(0L)
    withEpochClaim(dir, epoch, m0.map(_.epoch).getOrElse(-1L)) {
      // DEEP listing for the replace set: the target may be partitioned
      // (a plain dt= table, or a managed partitioned store reshaping into
      // the curve), its data under key= subdirs — a top-level-only replace
      // would leave the old partitions' rows visible beside the new layout
      // (curve tables are flat; the deep walk returns their flat names)
      val current = if (fs.exists(dir)) listDataFilesDeep(dir) else Nil
      val tmp = ScopedCommit.newStageDir(dir)
      ScopedCommit.sweepStages(fs, dir)
      labeled(s"z-order replace write ${dir.getName}")(
        zorderStage(src, zCols, files, bits).write.mode("overwrite").parquet(tmp.toString))
      val staged = listDataFiles(tmp)
      val renames = staged.map(s => s -> s"part-w$epoch-${s.stripPrefix("part-")}")
      val newM = LayoutManifest(zCols, bits, files, epoch,
        base = renames.map(_._2).sorted, appends = Nil, schemaJson = schemaJson)
      // replay from the lines just written, NOT a marker re-read: a
      // reader-driven recover racing this commit may finish the replay and
      // delete the marker first (replay itself is concurrent-replayer-safe)
      ScopedCommit.replay(fs, dir, ScopedCommit.write(fs, dir, renames,
        deletes = if (m0.isDefined) Nil else current, manifest = Some(newM),
        retires = if (m0.isDefined) current else Nil, stage = tmp))
      // a replace of a manifest-less partitioned dir leaves its key= dirs
      // empty (a tracked one's hold the retired files its prior epochs
      // read) — dead weight on a now-flat table, so prune them BOTTOM-UP
      // to the table root (a multi-level a=1/b=2 layout must not strand
      // empty a=1 skeletons after their b= children go). COW deletes keep
      // a fully emptied partition's dir deliberately: its catalog
      // partition entry stays valid at zero files. Non-recursive delete:
      // a dir a concurrent writer raced a file into simply stays.
      current.filter(_.contains('/'))
        .map(n => new Path(dir, n.substring(0, n.lastIndexOf('/'))))
        .distinct
        .foreach { leaf =>
          var d = leaf
          try {
            while (d != null && d != dir && fs.exists(d) &&
                fs.listStatus(d).isEmpty && fs.delete(d, false))
              d = d.getParent
          } catch { case _: java.io.IOException => () }
        }
    }
    refreshCatalog(dir)
  }

  /** Non-hidden data files of a table directory (what a Spark scan lists). */
  private def listDataFiles(dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !Store.hidden(st.getPath.getName))
      .map(_.getPath.getName).sorted

  /** [[listDataFiles]] recursing through non-hidden subdirectories —
    * PARTITIONED tables keep their data under `key=value/` dirs, so their
    * file identity is the path RELATIVE to the table root (flat tables get
    * exactly the [[listDataFiles]] names). Hidden dirs (history, retired,
    * staging) are skipped at every level.
    */
  private def listDataFilesDeep(dir: Path): Seq[String] = {
    def walk(d: Path, prefix: String): Seq[String] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (Store.hidden(n)) Nil
        else if (st.isFile) Seq(prefix + n)
        else walk(st.getPath, s"$prefix$n/")
      }
    walk(dir, "").sorted
  }

  /** The curve layout as a frame: bucket ranks -> curve index ->
    * curve-range partition + sort, helper columns dropped. Shared by
    * [[writeZordered]] (overwrite) and [[appendZordered]].
    *
    * COST SHAPE (optimization round 20): the original form paid THREE
    * full evaluations of `df` per layout write — a full-corpus
    * `approxQuantile` scan for the bucket bounds, the hidden
    * RangePartitioner sampling scan that `repartitionByRange` plans
    * (which re-evaluates the whole scan+bucket+curve chain to sample
    * ~100 keys/partition), and the staging write itself. Measured at
    * sf0.1 those first two are ~1.0-1.3 s of SERIAL single-task wall per
    * write (the fixture parquet is one split), and at 100 TB they are
    * two full extra passes over the corpus. Now ONE bounded,
    * deterministic sample job (`TakeOrderedAndProject` on
    * `xxhash64(zCols)` — the pqTrain sampling discipline) feeds BOTH
    * decisions on the driver: the per-column equal-mass bucket bounds
    * (exact quantiles of the hash-sample, same accuracy class as the
    * replaced eps=0.01 sketch) and the equal-mass curve cut points
    * (the sample's rows are bucketed and curve-indexed driver-side with
    * the same [[graft.functions.HilbertIndex2]]/[[HilbertIndexN]] kernels
    * the executors run). Rows then map to their target file with a
    * codegen'd boundary scan and land there EXACTLY via a driver-solved
    * hash salt ([[Store.hashSalts]]) — a REPARTITION_BY_NUM hash
    * exchange, which AQE never coalesces, so the file count contract is
    * unchanged while the sampling pass disappears. Write cost drops from
    * 3 corpus passes to 2 (sample pass projects only zCols, so its scan
    * is column-pruned), and the per-file content contract — `files`
    * disjoint contiguous curve ranges, sorted within — is preserved.
    */
  private def zorderStage(df: DataFrame, zCols: Seq[String],
                          files: Int, bits: Int,
                          sampleFrom: Option[DataFrame] = None): DataFrame = {
    require(zCols.size >= 2,
      "z-order needs at least two cluster columns — one column is writeClustered")
    require(bits >= 1 && bits * zCols.size <= 62,
      s"bits * columns must fit a long, got $bits * ${zCols.size}")
    val n = 1 << bits
    // deterministic bounded sample: lowest-k rows by content hash of the
    // z columns — stable across partition layouts, task retries and runs
    // (a reservoir/random sample is not), and k is below Spark's
    // topKSortFallbackThreshold so this plans as TakeOrderedAndProject
    // (per-partition top-k, no full sort shuffle).
    // `sampleFrom` (optimization round 21): the COW/MERGE staging frames
    // are JOIN outputs — sampling `df` itself would re-evaluate the whole
    // region join (for a MERGE, region ⋈ source PLUS the insert
    // anti-join) just to draw 8192 zCol rows. Callers that know a cheap
    // superset of the staged rows' z-distribution (the raw touched-region
    // scan — a plain column-pruned parquet read) pass it here. Bucket
    // bounds and curve cut points are LAYOUT QUALITY, not semantics:
    // every choice of cut points yields `files` disjoint contiguous
    // curve ranges, sorted within — only file-size balance varies, and a
    // raw-region sample differs from the staged rows only by deleted /
    // updated-key rows (a bounded skew on a bounded sample).
    val proj = sampleFrom.getOrElse(df)
      .select(zCols.map(c => col(c).cast("double").as(c)): _*)
    val sample: Array[Array[Double]] = labeled("z-order bounds sample")(proj
      .withColumn("__h", xxhash64(zCols.map(col): _*))
      .orderBy(col("__h"))
      .limit(Store.zSampleSize)
      .collect())
      .map(r => Array.tabulate(zCols.size)(i =>
        if (r.isNullAt(i)) Double.NaN else r.getDouble(i)))
    // per-column equal-mass bucket bounds = exact quantiles of the sample
    // (nulls excluded — they rank 0 below, exactly as before)
    val bounds: Map[String, Array[Double]] = zCols.zipWithIndex.map { case (c, i) =>
      val vs = sample.map(_(i)).filterNot(_.isNaN).sorted
      val bs =
        if (vs.isEmpty) Array.empty[Double]
        else Array.tabulate(n - 1) { j =>
          vs(math.min(vs.length - 1, ((j + 1).toLong * vs.length / n).toInt))
        }.distinct
      c -> bs
    }.toMap
    // rank of v among the n equal-mass buckets — one kernel expression
    // (binary search, null ranks 0) instead of the n-1-deep when() chain
    // the stage used through r20: the chain was ~250 plan nodes PER
    // COLUMN re-analyzed on every staging write (driver planning cost on
    // every lakehouse mutation) and n-1 sequential compares per row
    def bucketOf(c: String): org.apache.spark.sql.Column =
      graft.functions.BoundsRankDouble(col(c).cast("double"), bounds(c))
    // the driver-side twin of bucketOf, for curve-indexing the sample
    // (NaN > b is false, so nulls rank 0 — same as when() on null)
    def rankOf(v: Double, bs: Array[Double]): Long = bs.count(v > _).toLong
    val zSample: Array[Long] = sample.map { row =>
      val ranks = Array.tabulate(zCols.size)(i => rankOf(row(i), bounds(zCols(i))))
      if (zCols.size == 2) graft.functions.HilbertIndex2.compute(ranks(0), ranks(1), bits)
      else graft.functions.HilbertIndexN.compute(ranks, bits)
    }.sorted
    // equal-mass curve cut points: files-1 boundaries over the sampled
    // curve indexes — the same boundaries RangePartitioner would have
    // sampled for, computed from the one sample already in hand
    val zBounds: Array[Long] =
      if (zSample.isEmpty) Array.empty[Long]
      else Array.tabulate(files - 1) { j =>
        zSample(math.min(zSample.length - 1, ((j + 1).toLong * zSample.length / files).toInt))
      }.distinct
    val withB = zCols.foldLeft(df)((d, c) =>
      d.withColumn(s"__zb_$c", bucketOf(c).cast("long")))
    // 2-D rides the classic xy2d form; 3+ dimensions ride Skilling's n-D
    // Hilbert transform — both adopted over Morton on measured skipping
    // wins (CurveAb, PLANS.md rounds 14/15)
    val zval =
      if (zCols.size == 2)
        graft.functions.HilbertIndex2(
          col(s"__zb_${zCols(0)}"), col(s"__zb_${zCols(1)}"), bits)
      else
        graft.functions.HilbertIndexN(zCols.map(c => col(s"__zb_$c")), bits)
    val salts = Store.hashSalts(files)
    val withZ = withB.withColumn("__z", zval)
    // same kernel for the curve-index -> output-file cut points (exact
    // long compares — a 62-bit curve index does not fit a double)
    val pid = graft.functions.BoundsRankLong(col("__z"), zBounds)
    withZ
      .withColumn("__zsalt", element_at(typedLit(salts.toSeq), pid + 1))
      .repartition(files, col("__zsalt"))
      .sortWithinPartitions("__z")
      .drop(zCols.map(c => s"__zb_$c") ++ Seq("__z", "__zsalt"): _*)
  }

  /** Append a batch to a clustered/z-ordered table WITHOUT re-laying it
    * out: the batch lands as new files (range-partitioned and sorted
    * within itself on the same keys/curve, so the batch's own files carry
    * tight stats), existing files never move. Appends erode cross-file
    * disjointness — old and new files overlap in key space — degrading
    * skipping from "few files" toward "few files per batch"; run
    * [[recluster]] when the batch count grows. This is the standard
    * lakehouse write/maintain split (append cheap, OPTIMIZE amortized).
    */
  def appendZordered(df: DataFrame, rel: String, zCols: Seq[String],
                     files: Int = 8, bits: Int = 6): Unit =
    // OPTIMISTIC CONCURRENCY: an append only ADDS files, so it is
    // file-disjoint with ANY interleaved commit by construction — a CAS
    // conflict (another writer won the epoch) retries the whole attempt
    // against the new state, bounded; the retry re-validates the layout
    // against the NEW manifest, so a concurrent reshape still fails
    // loudly. The claim is taken before any data motion, so a conflicted
    // attempt has written nothing.
    Store.retryDisjointCas(rel, s"$baseDir/$rel", fs, overlap = _ => false) {
      appendZorderedOnce(df, rel, zCols, files, bits)
    }

  private def appendZorderedOnce(df: DataFrame, rel: String, zCols: Seq[String],
                                 files: Int, bits: Int): Unit = {
    val dir = new Path(s"$baseDir/$rel")
    // finish any interrupted journaled commit before listing. Fail-first:
    // a layout mismatch must abort BEFORE the physical append, or
    // wrong-curve rows would already be visible with no rollback
    val m0 = recoverAndRead(dir)
    m0.foreach(mf => require(mf.zCols == zCols && mf.bits == bits,
      s"append layout (${zCols.mkString(",")}/bits=$bits) does not match " +
        s"the table manifest (${mf.zCols.mkString(",")}/bits=${mf.bits})"))
    validateAgainstDeclared(df.schema, m0, rel)
    // claim the next epoch BEFORE the physical append — a concurrent
    // mutator fails loudly here with the table untouched. Unconditional:
    // the first-ever write races too (claimEpoch creates the dir), and
    // an in-process failure during the append releases the claim.
    withEpochClaim(dir, m0.map(_.epoch + 1).getOrElse(0L), m0.map(_.epoch).getOrElse(-1L)) {
      val before = if (fs.exists(dir)) listDataFiles(dir).toSet else Set.empty[String]
      labeled(s"z-order append write ${dir.getName}")(
        zorderStage(df, zCols, files, bits).write.mode("append").parquet(s"$baseDir/$rel"))
      // manifest bookkeeping: this batch's files form one append layer. A
      // manifest-less table (foreign/pre-manifest) adopts its existing files
      // as "base" — if they were NOT actually curve-clustered, their wide
      // footer rectangles intersect any append and the next scoped pass
      // rewrites them anyway (the geometry test is self-correcting; trusting
      // provenance only ever SAVES work on genuinely pristine files).
      val batch = (listDataFiles(dir).toSet -- before).toSeq.sorted
      // every file-set change is a new epoch: the old epoch's snapshot stays
      // readable via readVersion until vacuum (appends never retire files,
      // so the prior epoch's files are all still live)
      val m = m0 match {
        case Some(mf) => mf.copy(epoch = mf.epoch + 1, appends = mf.appends :+ batch)
        case None =>
          // declared schema only on a genuinely FRESH table: an adopted
          // foreign table's existing files may carry columns this batch
          // does not, and a declared batch schema would silently project
          // them away — adopted tables keep inference until a replace
          LayoutManifest(zCols, bits, files, epoch = 0L,
            base = before.toSeq.sorted, appends = Seq(batch),
            schemaJson = if (before.isEmpty)
              Some(Store.nullableSchemaJson(df.schema)) else None)
      }
      LayoutManifest.write(fs, dir, m)
    }
    refreshCatalog(dir)
  }

  /** Invalidate any cached catalog state over `dir`: a table registered
    * via [[registerCatalog]] caches its resolved relation (file index
    * included), so every mutator must refresh it or later `spark.table`
    * reads would silently miss appended files / crash on deleted ones
    * (PlanSpec pins both). `refreshByPath` alone does not drop the
    * cached table relation, so the tables registered over this exact
    * location are refreshed BY NAME — a current-database metadata scan,
    * driver-side and tiny next to the mutation it follows. No-op when
    * nothing is registered over the path.
    */
  // normalized-URI comparison, not raw Path equality: a location stored
  // with a trailing slash or an unqualified scheme/authority (object
  // stores, CREATE TABLE ... LOCATION hand-written) must still match, or
  // the stale cached file index would throw FileNotFound after a
  // scoped recluster / COW delete removed its original files
  private def canon(p: Path): java.net.URI = {
    val u = fs.makeQualified(p).toUri.normalize()
    val path = if (u.getPath != "/" && u.getPath.endsWith("/"))
      u.getPath.dropRight(1) else u.getPath
    new java.net.URI(u.getScheme, u.getAuthority, path, null, null)
  }

  private def refreshCatalog(dir: Path): Unit = {
    spark.catalog.refreshByPath(dir.toString)
    val target = canon(dir)
    val cat = spark.sessionState.catalog
    cat.listTables(cat.getCurrentDatabase).foreach { ident =>
      // metadata lookup tolerates views and concurrent drops (nothing to
      // refresh); but once the table IS ours, a refresh/recover failure
      // must stay LOUD — swallowing it would hand the caller a committed
      // mutation with a silently stale catalog, the exact bug this hook
      // exists to prevent. Only "already gone" is ignorable there.
      val meta =
        try Some(cat.getTableMetadata(ident)) catch { case _: Exception => None }
      meta.filter(m => canon(new Path(m.location)) == target).foreach { m =>
        def goneRace(e: Throwable): Boolean =
          Option(e.getMessage).exists(msg =>
            msg.contains("TABLE_OR_VIEW_NOT_FOUND") || msg.contains("NoSuchTable"))
        try spark.catalog.refreshTable(ident.unquotedString)
        catch { case e: Exception if goneRace(e) => () }
        // a catalog table that TRACKS partitions reads through the
        // catalog's partition registry, not a directory listing — a
        // mutation that created a new partition directory (an UPDATE
        // moving rows to a new partition value) would be silently
        // invisible to it until an MSCK, and one that REMOVED a
        // partition's directory (a replace that flattens the layout, a
        // pruned empty skeleton) leaves a stale entry whose missing path
        // breaks catalog reads. SYNC re-discovers in BOTH directions —
        // add new dirs, drop gone ones — after every mutation:
        // O(partition dirs) metadata, and only for tables actually
        // registered over this path with partition columns. EXCEPT when
        // the user registered a partition whose LOCATION lives outside
        // the table root: MSCK's drop pass is spec-driven from the root
        // listing and would silently deregister it, hiding its rows from
        // every catalog read — such tables get the ADD-ONLY refresh (the
        // same reason SqlDmlRewrite refuses them for DML). The
        // listPartitions probe is O(partitions) metadata per mutation,
        // deliberately NOT cached: partitions can be ALTERed between any
        // two mutations, and a stale all-under-root answer would
        // reintroduce the silent deregistration; the MSCK that follows is
        // itself O(partition dirs), so the probe is a constant factor on
        // an already partition-scale refresh.
        if (m.partitionColumnNames.nonEmpty) {
          val root = canon(new Path(m.location))
          def under(u: java.net.URI): Boolean = {
            var c: Path = new Path(u)
            var hit = false
            while (c != null && !hit) { hit = canon(c) == root; c = c.getParent }
            hit
          }
          val allUnderRoot =
            try spark.sessionState.catalog.listPartitions(m.identifier)
              .forall(_.storage.locationUri.forall(under))
            catch { case scala.util.control.NonFatal(_) => false }
          try {
            if (allUnderRoot)
              spark.sql(s"MSCK REPAIR TABLE ${ident.quotedString} SYNC PARTITIONS")
            else spark.catalog.recoverPartitions(ident.unquotedString)
          } catch { case e: Exception if goneRace(e) => () }
        }
      }
    }
    // re-pin every manifest-pinned view registered over this table: the
    // snapshot views move to the just-committed epoch, the version views
    // re-resolve their (immutable) file set to its current home. A pinned
    // epoch that a vacuum dropped becomes a loud-on-use error view —
    // never a silently shrunken read.
    val targetKey = target.toString
    Store.pinnedViews.snapshot().foreach {
      // dead-session hygiene first, regardless of table: the weak ref is
      // the liveness signal, and purging here keeps the process-global
      // map bounded in a JVM churning short-lived sessions
      case (key, pv) if pv.session.get.isEmpty => Store.pinnedViews.remove(key)
      case (key @ (_, view), pv) if pv.dirKey == targetKey =>
        // re-pin EVERY live registered view over this table, each within
        // ITS OWN recorded session — NOT the session driving the mutation:
        // streaming foreachBatch commits run on a CLONED session, and a
        // session-identity filter here would leave the parent session's
        // views permanently stale (they broke with missing-file errors the
        // first time a scoped pass retired their pinned files — spec-
        // caught). The weak ref gives the exact session object, so an
        // identity-hash collision can never re-pin into the wrong catalog.
        pv.session.get match {
          case None => Store.pinnedViews.remove(key)
          case Some(sess) =>
            val current = sess.sessionState.catalog.getRawTempView(view)
            // intentional catalog actions win over the registration: a view
            // the user DROPPED stays dropped, and a view the user REPLACED
            // with their own definition (the catalog object is not the one
            // this registry installed) is theirs now — drop the entry,
            // touch nothing
            if (current.isEmpty || !pv.installed.get.exists(i => current.exists(_ eq i)))
              Store.pinnedViews.remove(key)
            else {
              // resolve through the REGISTERING store's base dir and the
              // view's own session: the mutator driving this refresh may
              // address the same table through a different baseDir/rel
              // split or a cloned session, and neither may change how the
              // pinned rel resolves. NOTHING here may fail the caller: the
              // mutation already committed, so any re-pin failure (vacuumed
              // epoch, concurrent vacuum racing the resolution, anything
              // NonFatal) degrades THIS view to loud-on-use instead.
              val owner = new Store(sess, pv.viewBase)
              try {
                val df = pv.epoch match {
                  case None => owner.readSnapshot(pv.rel)
                  case Some(e) => owner.readVersion(pv.rel, e)
                }
                Store.installPin(sess, key, pv, df)
              } catch {
                case scala.util.control.NonFatal(ex) =>
                  // the error rides a FILTER, not a projected column: a
                  // projection is pruned by COUNT(*)-shaped queries, which
                  // would read the dead view as silently empty — the filter
                  // must be evaluated to produce any row, so every query
                  // through the view throws with the real cause. The error
                  // frame keeps the pinned frame's ORIGINAL schema
                  // (null-typed columns over the error-bearing filter):
                  // a query naming a real column (SUM(v)) must reach the
                  // raise_error message, not die at analysis with a
                  // misleading UNRESOLVED_COLUMN.
                  try {
                    val cols =
                      if (pv.schema.isEmpty) Seq(lit(1L).as("error"))
                      else pv.schema.fields.toSeq.map(f =>
                        lit(null).cast(f.dataType).as(f.name))
                    Store.installPin(sess, key, pv, sess.range(1)
                      .where(raise_error(lit(
                        s"pinned view '$view' is no longer resolvable: ${ex.getMessage}")).isNull)
                      .select(cols: _*))
                  } catch { case scala.util.control.NonFatal(_) => () }
              }
            }
        }
      case _ => ()
    }
  }

  /** Restore a z-ordered table's layout after appends: one full re-sort
    * into `files` fresh files, committed as a z-order replace write
    * ([[writeZordered]]'s journaled commit). Every current file retires,
    * so prior epochs stay readable until vacuum; a table without a
    * manifest is adopted at epoch 0, exactly as [[writeZordered]] adopts
    * it. Layout parameters may change here, and a managed partitioned
    * store reshapes into a curve layout with its partition column kept
    * as data. One column is [[writeClustered]]'s layout, not a curve.
    * At 100 TB this is the amortized OPTIMIZE pass — its range exchange
    * costs one table rewrite and every later scan's skipping pays it
    * back; schedule it by appended-bytes fraction, not per batch.
    */
  def recluster(rel: String, zCols: Seq[String], files: Int = 8,
                bits: Int = 6): Unit = {
    val dir = new Path(s"$baseDir/$rel")
    val m0 = recoverAndRead(dir)
    // the frame is read at m0's epoch, the one the replace's claim checks.
    // The evolved reader matters doubly here: a reshape of a PARTITIONED
    // store must keep its partition column as data, and an evolved
    // table's added columns must survive the rewrite
    val src =
      if (m0.exists(_.isPartitioned))
        evolvedReader(m0).option("basePath", dir.toString)
          .parquet(listDataFilesDeep(dir).map(n => s"$dir/$n"): _*)
      else evolvedReader(m0).parquet(dir.toString)
    replaceZordered(dir, m0, src, zCols, files, bits, m0.flatMap(_.schemaJson))
  }

  /** Result of a [[scopedRecluster]] pass, for logging and specs. */
  case class ScopedStats(keptFiles: Int, rewrittenFiles: Int, newFiles: Int,
                         rewrittenBytes: Long, totalBytes: Long)

  /** Scoped OPTIMIZE — [[recluster]] restricted to what appends actually
    * eroded. [[recluster]] rewrites the WHOLE relation; on a 100 TB table
    * where a nightly append touched one key region that is ~100 TB of
    * shuffle+encode to fix a few files' worth of overlap. This pass
    * rewrites only (a) every append-layer file and (b) the base files
    * whose footer min/max rectangle intersects some append file in EVERY
    * layout dimension (closed intervals; files without usable stats count
    * as intersecting) — the exact condition under which a scan probe can
    * be forced to read both files. Untouched base files are never opened:
    * same name, same bytes, same mtime (StoreSpec pins all three).
    *
    * Provenance comes from the layout manifest
    * ([[LayoutManifest]] explains why geometry alone cannot detect
    * erosion); the rewrite region is re-staged through the same curve and
    * promoted with a journaled multi-file commit ([[ScopedCommit]]): data
    * staged under a hidden tmp dir, marker written atomically, then
    * rename-in/delete-originals replayed idempotently — a crash anywhere
    * re-drives to completion at the next layout operation, and no window
    * ever shows a reader missing rows (a directory listing taken
    * mid-commit can see duplicates; [[readSnapshot]] never does).
    *
    * Output file count scales with the rewritten fraction
    * (`files * rewrittenBytes/totalBytes`, min 1), so repeated scoped
    * passes keep the table near its target file size instead of
    * accreting fixed-size layers.
    */
  def scopedRecluster(rel: String): ScopedStats = {
    val dir = new Path(s"$baseDir/$rel")
    val m = recoverAndRead(dir).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — scopedRecluster needs writeZordered/appendZordered " +
        "provenance; use recluster(rel, zCols) for a full rewrite"))
    require(!m.isPartitioned,
      s"$rel is a managed PARTITIONED store — erosion/OPTIMIZE applies to curve " +
        "layouts; partition dirs need no recluster (recluster(rel, zCols) reshapes)")
    val onDisk = listDataFiles(dir).toSet
    val base = m.base.filter(onDisk)
    val appended = m.appends.flatten.filter(onDisk)
    val untracked = (onDisk -- base -- appended).toSeq.sorted
    // files the manifest never saw (e.g. a foreign writer) are treated as
    // an extra append layer — conservative, never silently kept
    val appendAll = appended ++ untracked
    val totalBytes = (base ++ appendAll)
      .map(n => fs.getFileStatus(new Path(dir, n)).getLen).sum
    if (appendAll.isEmpty)
      return ScopedStats(base.size, 0, 0, 0L, totalBytes)
    withEpochClaim(dir, m.epoch + 1, m.epoch) {
    val rects = labeled(s"footer rects ${dir.getName}")(
      FileRect.readAll(spark, dir.toString, base ++ appendAll, m.zCols))
    val aRects = appendAll.map(rects)
    val erodedBase = base.filter(b => aRects.exists(rects(b).intersects))
    val rewrite = (appendAll ++ erodedBase).sorted
    val kept = base.filterNot(erodedBase.toSet)
    val rewrittenBytes = rewrite.map(n => rects(n).bytes).sum
    val nOut = math.max(1, math.round(
      m.files.toDouble * rewrittenBytes / math.max(1L, totalBytes)).toInt)
    // stage the rewrite region through the same curve, under a hidden dir
    // INSIDE the table (invisible to scans; survives with the table on a
    // rename). The read executes fully during the stage write — originals
    // stay intact until the journaled commit below.
    val tmp = ScopedCommit.newStageDir(dir)
    ScopedCommit.sweepStages(fs, dir)
    // the region may mix pre- and post-evolution vintages — project to
    // the declared schema or the staged rewrite drops added columns
    val region = evolvedReader(Some(m)).parquet(rewrite.map(n => s"$dir/$n"): _*)
    labeled(s"scoped recluster write ${dir.getName}")(
      zorderStage(region, m.zCols, nOut, m.bits)
        .write.mode("overwrite").parquet(tmp.toString))
    val staged = listDataFiles(tmp)
    val epoch = m.epoch + 1
    // promoted names keep the part- prefix (scan-visible) and carry the
    // epoch so they can never collide with kept files or later passes
    val renames = staged.map(s => s -> s"part-s$epoch-${s.stripPrefix("part-")}")
    val newManifest = LayoutManifest(m.zCols, m.bits, m.files, epoch,
      base = (kept ++ renames.map(_._2)).sorted, appends = Nil, schemaJson = m.schemaJson)
    // rewritten originals are RETIRED, not deleted: every prior epoch's
    // manifest keeps resolving them until an explicit vacuum reclaims
    ScopedCommit.replay(fs, dir, ScopedCommit.write(fs, dir, renames,
      deletes = Nil, manifest = Some(newManifest), retires = rewrite, stage = tmp))
    refreshCatalog(dir)
    ScopedStats(kept.size, rewrite.size, staged.size, rewrittenBytes, totalBytes)
    }
  }

  /** Result of a [[deleteWhere]] pass, for logging and specs. */
  case class DeleteStats(filesTouched: Int, filesKept: Int, rowsDeleted: Long)

  /** Copy-on-write DELETE scoped to the files that contain matches — the
    * right-to-erasure / decontamination path for a 100 TB corpus: a
    * takedown of a few documents must not rewrite the table. The matching
    * FILES are found with one pushed-predicate scan (on a clustered/
    * z-ordered layout the scan itself prunes to the candidate files, so
    * finding them costs what reading them costs); only those files are
    * re-read, filtered, and swapped in through the same journaled commit
    * as [[scopedRecluster]] — untouched files keep name/bytes/mtime
    * (StoreSpec pins it), a crash replays to completion, and a reader
    * never sees missing rows mid-commit.
    *
    * Delete semantics are SQL's: rows where `cond` is TRUE go; FALSE and
    * NULL stay. On a manifest-tracked curve layout the replacement files
    * are re-staged through the table's own curve and recorded as one
    * append layer (their rects are subsets of the originals', so
    * skipping holds; the next scoped pass may fold them into base) and
    * deleted originals leave the provenance lists; a plain parquet table
    * just gets filtered replacement files.
    */
  def deleteWhere(rel: String, cond: org.apache.spark.sql.Column): DeleteStats = {
    val r = cowRewrite(rel, cond, prefix = "d",
      region => region.where(!coalesce(cond, lit(false))))
    DeleteStats(r.filesTouched, r.filesKept, r.regionRows - r.stagedRows)
  }

  /** Result of an [[updateWhere]] pass, for logging and specs. */
  case class UpdateStats(filesTouched: Int, filesKept: Int, rowsUpdated: Long)

  /** Copy-on-write UPDATE scoped to the files that contain matches —
    * [[deleteWhere]]'s sibling for in-place corrections (re-scored
    * quality, redacted spans, fixed labels) on a table too large to
    * rewrite: rows where `cond` is TRUE get each `set` column replaced by
    * its expression (which may reference the row's own columns), FALSE
    * and NULL rows pass through untouched, and only the match-bearing
    * files are re-staged and swapped through the journaled commit.
    * Updating a cluster column is allowed — the replacement layer is
    * re-staged through the table's own curve, so the moved rows land
    * correctly clustered within it.
    */
  def updateWhere(rel: String, cond: org.apache.spark.sql.Column,
                  set: Map[String, org.apache.spark.sql.Column]): UpdateStats = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val r = cowRewrite(rel, cond, prefix = "u", { region =>
      val unknown = set.keySet -- region.columns
      require(unknown.isEmpty,
        s"updateWhere SET columns not in the table: ${unknown.mkString(", ")}")
      val hit = coalesce(cond, lit(false))
      region.select(region.columns.map { c =>
        set.get(c).map(v => when(hit, v).otherwise(col(c)).as(c)).getOrElse(col(c))
      }: _*)
    }, setCols = set.keySet)
    UpdateStats(r.filesTouched, r.filesKept, r.matchRows)
  }

  /** Result of a [[mergeInto]] pass, for logging and specs. */
  case class MergeStats(filesTouched: Int, filesKept: Int, rowsUpdated: Long,
                        rowsDeleted: Long, rowsInserted: Long)

  /** MERGE INTO — the lakehouse upsert statement, as a journaled
    * copy-on-write operator: source rows matching target rows (by `on`)
    * drive the FIRST matched clause whose condition holds (SQL's
    * first-match-wins over an ordered `WHEN MATCHED [AND …] THEN
    * UPDATE/DELETE` list — the shape a CDC apply needs: tombstones
    * delete, everything else upserts); source rows matching nothing
    * insert. Only the files CONTAINING matches are rewritten (located
    * exactly like [[deleteWhere]], with the file identity captured BEFORE
    * the join shuffle), inserts land in the same staged layer, and the
    * whole result commits as one epoch — retire-backed on
    * manifest-tracked tables, so a bad merge is time-travel-recoverable.
    * A matched-action merge enforces SQL's cardinality law: a target row
    * matched by MORE than one source row fails loudly instead of applying
    * an arbitrary update twice.
    *
    * Column reference convention (shared with the SQL face): target
    * columns are qualified `__t`, source columns `__s`, in `on`, action
    * conditions, and assignment values. Insert assignments map TARGET
    * column name -> expression over `__s`; unassigned columns insert
    * NULL (the SQL INSERT-list rule).
    *
    * Scale shape: the matched side costs what a COW delete costs (scoped
    * to match-bearing files); the insert anti-join is inherently
    * full-source-vs-target (every MERGE engine pays it — Delta included);
    * a merge-heavy pipeline should bucket or cluster on the merge keys.
    * An insert-less, match-less pass commits nothing.
    */
  def mergeInto(rel: String, source: DataFrame, on: org.apache.spark.sql.Column,
                matched: Seq[Store.MergeMatched],
                insert: Option[(Map[String, org.apache.spark.sql.Column],
                  Option[org.apache.spark.sql.Column])]): MergeStats = {
    require(matched.nonEmpty || insert.isDefined,
      "mergeInto needs at least one action (matched update/delete, or insert)")
    val dir = new Path(s"$baseDir/$rel")
    val m0 = recoverAndRead(dir)
    // MATERIALIZE the source once: the body evaluates it across several
    // independent jobs (locate semi-join, cardinality check, stats agg,
    // insert anti-join, staging write) — an uncached nondeterministic
    // source (LIMIT without ORDER, sampling, a concurrently-refreshed
    // view) could pass the duplicate-match check on one row set and stage
    // a DIFFERENT one: silently wrong merge results. Reference MERGE
    // engines (Delta) materialize the source for exactly this reason.
    // MEMORY_AND_DISK covers the mainline; a lost-executor recompute on a
    // cluster is the residual any cache-based materialization carries.
    // A source the CALLER already cached is left alone — persist would
    // no-op but the paired unpersist would evict THEIR entry.
    val callerCached = org.apache.spark.sql.GraftBridge.isCached(source)
    val src =
      if (callerCached) source
      else source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try withClaimUnlessNoop(dir, m0)(
      mergeIntoBody(dir, src, on, matched, insert, m0))(
      r => r.filesTouched > 0 || r.rowsInserted > 0L)
    finally if (!callerCached) src.unpersist(blocking = false)
  }

  /** A reader projecting to the manifest's DECLARED schema when the table
    * was schema-evolved ([[addColumns]]) — every INTERNAL read of a
    * manifest-tracked table's data (COW locates and regions, recluster
    * stages) must go through this: a plain `spark.read.parquet(dir)` on
    * an evolved table infers the schema from an arbitrary file, and a
    * pre-evolution file would silently DROP the added columns from a COW
    * rewrite's staged replacement — data loss. No declared schema = the
    * stock inference, exactly as before.
    */
  private def evolvedReader(m0: Option[LayoutManifest]): org.apache.spark.sql.DataFrameReader =
    m0.flatMap(_.schema).map(spark.read.schema).getOrElse(spark.read)

  /** Append-batch schema check on an evolved table: every batch column
    * must exist in the declared schema with the same type — a stray
    * column would vanish on every read (the declared schema projects it
    * away), which is silent data loss shaped exactly like a typo.
    */
  private def validateAgainstDeclared(batch: StructType,
                                      m0: Option[LayoutManifest], rel: String): Unit =
    m0.flatMap(_.schema).foreach { s =>
      // nullability-insensitive comparison at every nesting level: the
      // declared schema is normalized all-nullable at write time, and a
      // batch whose map/array/struct happens to be non-nullable (computed
      // literals) is type-compatible — only NAME/TYPE drift is an error
      val bad = batch.fields.filterNot(f => s.fields.exists(g =>
        g.name.equalsIgnoreCase(f.name) &&
          Store.nullableType(g.dataType) == Store.nullableType(f.dataType)))
      require(bad.isEmpty,
        s"append to $rel does not fit its declared (evolved) schema — " +
          s"offending columns: ${bad.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(", ")}; declared: ${s.simpleString}")
    }

  /** A scan-reported file URI -> the root-relative name manifests key by
    * (flat tables: the bare basename; partitioned: through the `k=v`
    * dirs).
    */
  private def relativeName(dir: Path, fileUri: String): String = {
    val dirPathStr = fs.makeQualified(dir).toUri.getPath
    new java.net.URI(fileUri).getPath.stripPrefix(dirPathStr).stripPrefix("/")
  }

  /** Run a mutator body under the epoch claim when the table is
    * manifest-tracked (plain tables have no epochs to guard), releasing
    * the claim when the body reports it committed NOTHING — the commit
    * path's manifest write releases it otherwise.
    */
  private def withClaimUnlessNoop[T](dir: Path, m0: Option[LayoutManifest])(
      body: => T)(committed: T => Boolean): T = m0 match {
    case Some(m) =>
      withEpochClaim(dir, m.epoch + 1, m.epoch) {
        val r = body
        if (!committed(r))
          fs.delete(LayoutManifest.claimPath(dir, m.epoch + 1), false)
        r
      }
    case None => body
  }

  private def mergeIntoBody(dir: Path, source: DataFrame,
                            on: org.apache.spark.sql.Column,
                            matched: Seq[Store.MergeMatched],
                            insert: Option[(Map[String, org.apache.spark.sql.Column],
                              Option[org.apache.spark.sql.Column])],
                            m0: Option[LayoutManifest]): MergeStats = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    def tq(c: String) = GraftBridge.toColumn(UnresolvedAttribute(Seq("__t", c)))
    def gate(c: Option[org.apache.spark.sql.Column]) =
      c.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
    val all = evolvedReader(m0).parquet(dir.toString)
    val tcols = all.columns.toSeq
    val tschema = all.schema
    val srcX = source.withColumn("__graft_sx", lit(1)).alias("__s")
    val total = listDataFilesDeep(dir)
    val partCols: Seq[String] = m0.map(_.partCols).filter(_.nonEmpty).getOrElse(
      total.headOption.filter(_.contains('/'))
        .map(_.split('/').dropRight(1).toSeq.map(_.takeWhile(_ != '=')))
        .getOrElse(Nil))
    // PARTITION-PRUNED match surface: when an ON conjunct equates a target
    // partition column with a source-side expression (the daily-ingest
    // shape — `__t.dt = __s.day`), no target row outside the source's
    // distinct values of that expression can match ANY source row. Both
    // the locate semi-join's scan and the NOT-MATCHED anti-join's
    // existing-side scan prune to those partitions (PartitionFilters on
    // the scan — PlanSpec pins it): the insert path stops paying a
    // full-table scan on day-keyed merges. The distinct-value collect is bounded by the
    // BATCH's partition values (a CDC feed's few days), never the table.
    // Distinct-value probe is CAPPED: pruning only pays when the source
    // touches few partitions (days of a CDC feed). Past the cap the
    // collect would be a driver OOM risk and the In() literal list a
    // planning blowup — skip pruning for that column instead (pure
    // optimization; the unpruned scan is always correct).
    val pruneCap = 1000
    val matchAll = Store.partitionEqualities(on, partCols).foldLeft(all) {
      case (acc, (pc, srcExpr)) =>
        val vals = source.alias("__s")
          .select(GraftBridge.toColumn(srcExpr)).distinct()
          .limit(pruneCap + 1).collect()
          .map(_.get(0)).toSeq
        if (vals.isEmpty) acc.where(lit(false))
        else if (vals.size > pruneCap) acc
        else acc.where(col(pc).isin(vals: _*))
    }
    val hitBase = col("__graft_sx").isNotNull
    // which ordered clause fires per row — 0 = none (pass through),
    // i+1 = clause i. A when-chain evaluates in order: FIRST match wins,
    // exactly SQL's WHEN MATCHED semantics.
    def clauseGate(a: Store.MergeMatched) = a match {
      case Store.MergeUpdate(_, mc) => hitBase && gate(mc)
      case Store.MergeDelete(mc) => hitBase && gate(mc)
    }
    val clauseCol = matched.zipWithIndex
      .foldLeft(when(lit(false), 0)) { case (w, (a, i)) =>
        w.when(clauseGate(a), i + 1)
      }.otherwise(0)
    val deleteIdx = matched.zipWithIndex.collect {
      case (_: Store.MergeDelete, i) => i + 1
    }
    val updateIdx = matched.zipWithIndex.collect {
      case (_: Store.MergeUpdate, i) => i + 1
    }
    def inIdx(idx: Seq[Int]) =
      if (idx.isEmpty) lit(false) else col("__graft_cl").isin(idx: _*)
    // ONE inner-join pass yields the touched-file locate AND the SQL
    // cardinality law AND the clause stats (optimization round 21; round
    // 20 had fused law+stats but still paid a separate locate semi-join —
    // the same join evaluated twice, a full extra pass over the
    // match-surface at 100 TB). Matched pairs group by (file, target row):
    // per target row its match count and firing clause; per file the max
    // match count and clause totals; the driver folds the per-file rows
    // (bounded by the touched-file count) into the global law and stats.
    // Only MATCHED pairs are shuffled — the unmatched bulk of the region
    // never leaves its scan (guide §2.3, shuffle fewer bytes). When the
    // law is violated the totals are polluted by the duplicate matches,
    // but the require throws before anything reads them.
    val (touchedNames, updHits, delHits) =
      if (matched.isEmpty) (Seq.empty[String], 0L, 0L)
      else {
        val pairs = matchAll.withColumn("__graft_fname", input_file_name())
          .withColumn("__graft_rid", monotonically_increasing_id()).alias("__t")
          .join(srcX, on, "inner")
        val perRid = pairs
          .select(col("__graft_fname"), col("__graft_rid"), clauseCol.as("__graft_cl"))
          .groupBy(col("__graft_fname"), col("__graft_rid"))
          .agg(count(lit(1)).as("__graft_h"), max(col("__graft_cl")).as("__graft_cl"))
        val perFile = labeled(s"merge locate+cardinality+stats ${dir.getName}")(
          perRid.groupBy(col("__graft_fname"))
            .agg(max(col("__graft_h")).as("mh"),
              count(when(inIdx(updateIdx), 1)).as("u"),
              count(when(inIdx(deleteIdx), 1)).as("d")).collect())
        val mh = if (perFile.isEmpty) 0L else perFile.map(_.getLong(1)).max
        require(mh <= 1L,
          s"MERGE into $dir: a target row is matched by more than one source row — " +
            "the SQL cardinality rule forbids it; deduplicate the source on the merge keys")
        (perFile.map(r => relativeName(dir, r.getString(0))).toSeq.sorted,
          perFile.map(_.getLong(2)).sum, perFile.map(_.getLong(3)).sum)
      }
    val reader =
      if (partCols.nonEmpty) evolvedReader(m0).option("basePath", dir.toString)
      else evolvedReader(m0)
    val region0 =
      if (touchedNames.nonEmpty) reader.parquet(touchedNames.map(n => s"$dir/$n"): _*)
      else all.where(lit(false))
    val regionT = region0.alias("__t")
    val j = regionT.join(srcX, on, "left_outer")
    // the touched region's TOTAL row count (matched or not) used to come
    // from a whole-region aggregation job; the parquet footers already
    // know it — O(touched files) metadata reads, no data pages, driver- or
    // executor-side per [[FileRect.readAll]]'s size gate
    val regionRows: Long =
      if (touchedNames.isEmpty) 0L
      else FileRect.readAll(spark, dir.toString, touchedNames, Nil)
        .values.map(_.rows).sum
    matched.foreach {
      case Store.MergeUpdate(sets, _) =>
        val unknown = sets.keySet -- tcols
        require(unknown.isEmpty,
          s"mergeInto UPDATE columns not in the table: ${unknown.mkString(", ")}")
      case _ => ()
    }
    val mergedRegion = {
      val jc = j.withColumn("__graft_cl", clauseCol)
      val kept =
        if (deleteIdx.isEmpty) jc
        else jc.where(!inIdx(deleteIdx))
      kept.select(tcols.map { c =>
        // per column: CASE on the firing clause — update clauses apply
        // their SET (or pass through when they don't assign c), all else
        // passes through
        val v = matched.zipWithIndex.foldLeft(when(lit(false), tq(c))) {
          case (w, (Store.MergeUpdate(sets, _), i)) if sets.contains(c) =>
            w.when(col("__graft_cl") === (i + 1), sets(c).cast(tschema(c).dataType))
          case (w, _) => w
        }.otherwise(tq(c))
        v.as(c)
      }: _*)
    }
    val insertRows = insert match {
      case Some((sets, ic)) =>
        val unknown = sets.keySet -- tcols
        require(unknown.isEmpty,
          s"mergeInto INSERT columns not in the table: ${unknown.mkString(", ")}")
        // NOT MATCHED = matches no target row anywhere (anti vs the whole
        // table, not just the region — partition-pruned to the source's
        // match surface above); the insert condition sees source columns
        // only
        source.alias("__s").join(matchAll.alias("__t"), on, "left_anti")
          .where(gate(ic))
          .select(tcols.map(c =>
            sets.get(c).map(_.cast(tschema(c).dataType))
              .getOrElse(lit(null).cast(tschema(c).dataType)).as(c)): _*)
      case None => all.where(lit(false)).select(tcols.map(c => col(c)): _*)
    }
    // CLAUSE-GATED rewrite scope: a batch whose matched rows fire NO
    // clause (a CDC feed of tombstones all gated out by WHEN MATCHED AND
    // conditions) would rewrite and retire every match-bearing file with
    // byte-identical rows — skip the region entirely and stage only the
    // inserts; matched files keep name/bytes/mtime (SqlDmlSpec pins it)
    val noClauseFired = updHits + delHits == 0L
    val commitTouched = if (noClauseFired) Nil else touchedNames
    val commitRegion =
      if (noClauseFired) all.where(lit(false)).select(tcols.map(c => col(c)): _*)
      else mergedRegion
    // a pass with no files to rewrite must not burn an epoch on zero inserts
    if (commitTouched.isEmpty && insertRows.limit(1).count() == 0L)
      return MergeStats(0, total.size, 0L, 0L, 0L)
    // the bounds sample draws from the RAW touched-region scan (plain
    // column-pruned parquet read) instead of the staged join output —
    // without this the zorderStage sample re-evaluated region ⋈ source
    // AND the insert anti-join a second time (see zorderStage.sampleFrom)
    val stagedRows = stageAndCommit(dir, "g", commitRegion.unionByName(insertRows),
      commitTouched, total.size, partCols, m0,
      sampleFrom = if (commitTouched.nonEmpty) Some(region0) else None)
    val inserted = stagedRows - (if (noClauseFired) 0L else regionRows - delHits)
    MergeStats(commitTouched.size, total.size - commitTouched.size, updHits, delHits,
      inserted)
  }

  private case class CowResult(filesTouched: Int, filesKept: Int,
                               regionRows: Long, stagedRows: Long, matchRows: Long)

  /** Shared copy-on-write core of [[deleteWhere]]/[[updateWhere]]: locate
    * match-bearing files with one pushed-predicate scan, run `transform`
    * over ONLY those files' rows, re-stage through the table's own curve
    * when it has layout provenance, and promote via the idempotent
    * [[ScopedCommit]] journal — untouched files never open or move.
    *
    * Works on flat AND `key=value`-partitioned tables: file identity is
    * the path relative to the table root, a predicate on the partition
    * columns partition-prunes the locate scan itself, and partitioned
    * replacements are re-staged per directory (see [[cowRewriteBody]]).
    */
  private def cowRewrite(rel: String, cond: org.apache.spark.sql.Column,
                         prefix: String, transform: DataFrame => DataFrame,
                         setCols: Set[String] = Set.empty): CowResult = {
    val dir = new Path(s"$baseDir/$rel")
    // ONE manifest read feeds the claim, the staging curve, and the
    // committed epoch — split reads could diverge and release the wrong
    // claim; manifest-less (plain parquet) tables have no epochs to guard
    val m0 = recoverAndRead(dir)
    // The match-bearing-file scan runs INSIDE the epoch claim: located
    // names are only valid against the file set the claim's
    // committed==prevEpoch validation pinned. A locate taken before the
    // claim could miss files a concurrent append committed in the window —
    // the claim would still validate (the append finished first), and the
    // DELETE/UPDATE would commit a later epoch silently missing those
    // matches instead of failing loudly.
    def locateAndRun(): CowResult = {
      val all = evolvedReader(m0).parquet(dir.toString)
      // file identity is the path RELATIVE to the table root: flat tables
      // get bare names, partitioned tables keep their `key=value/` dirs —
      // and the locate scan on a partitioned root is partition-PRUNED when
      // cond constrains the partition columns (the table prunes its own
      // COW search, the same property the curve layouts give flat tables)
      val touchedNames = labeled(s"cow locate scan ${dir.getName}")(all.where(cond)
        .select(input_file_name()).distinct().collect())
        .map(r => relativeName(dir, r.getString(0))).toSeq.sorted
      val total = listDataFilesDeep(dir)
      if (touchedNames.isEmpty) CowResult(0, total.size, 0L, 0L, 0L)
      else cowRewriteBody(dir, cond, prefix, setCols, transform, touchedNames, total.size, m0)
    }
    // a no-match pass commits nothing — its claim releases on the way out
    withClaimUnlessNoop(dir, m0)(locateAndRun())(_.filesTouched > 0)
  }

  private def cowRewriteBody(dir: Path, cond: org.apache.spark.sql.Column,
                             prefix: String, setCols: Set[String],
                             transform: DataFrame => DataFrame,
                             touchedNames: Seq[String], totalFiles: Int,
                             m0: Option[LayoutManifest]): CowResult = {
    // partitioned tables (touched paths carry `key=value/` dirs): the
    // region read declares the table root as basePath so the partition
    // columns stay IN the frame — cond and SET expressions may reference
    // them — and the staging write re-partitions by the same directory
    // columns, so replacement rows land back under their partition values
    // (an UPDATE of a partition column moves its rows to the right dir)
    val partCols: Seq[String] = touchedNames.headOption
      .filter(_.contains('/'))
      .map(_.split('/').dropRight(1).toSeq.map(_.takeWhile(_ != '=')))
      .getOrElse(Nil)
    val reader =
      if (partCols.nonEmpty) evolvedReader(m0).option("basePath", dir.toString)
      else evolvedReader(m0)
    val region = reader.parquet(touchedNames.map(n => s"$dir/$n"): _*)
    // both stats ride the staging write as observed metrics (a separate
    // stats job re-read the whole touched region): the CollectMetrics
    // node sits BELOW the transform, so a DELETE's filter cannot push
    // past it and every region row is counted exactly once by the one
    // scan the rewrite pays anyway
    val regionObs = org.apache.spark.sql.Observation()
    val observed = region.observe(regionObs,
      count(lit(1)).as("rows"),
      count(when(coalesce(cond, lit(false)), 1)).as("matches"))
    val out = transform(observed)
    // A CONSTANT predicate (DELETE WHERE true) lets PruneFilters fold the
    // whole rewrite subtree to an empty relation, discarding the metrics
    // node below — the observation would then complete with an EMPTY row
    // (Spark 4.1 ObservationManager: logical node present, physical
    // metrics absent) and the originals are gone after the commit. Ask
    // the OPTIMIZED plan whether the node survived; when it did not (a
    // full-table takedown — rare and tiny), pay the one explicit stats
    // job BEFORE anything moves. Every data-dependent predicate rides
    // the staging write's scan instead.
    val metricsSurvive = out.queryExecution.optimizedPlan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => true
      case _ => false
    }
    val preStats =
      if (metricsSurvive) None
      else Some(region.agg(count(lit(1)),
        count(when(coalesce(cond, lit(false)), 1))).head)
    // sample from the raw region read, not transform(region): the
    // DELETE/UPDATE projection would otherwise be evaluated a second time
    // just to draw the bounds sample (see zorderStage.sampleFrom). Except
    // when an UPDATE's SET rewrites a curve column: pre-update values
    // then rank every moved row into the edge bucket, and a narrow probe
    // of the moved range read ~3x the rows a fresh layout's does
    // (StoreSpec pins it), so the sample draws the post-update values
    val zMoved = m0.exists(_.zCols.exists(setCols))
    val stagedRows = stageAndCommit(dir, prefix, out, touchedNames, totalFiles,
      partCols, m0, sampleFrom = Some(if (zMoved) transform(region) else region))
    val (regionRows, matchRows) = preStats match {
      case Some(r) => (r.getLong(0), r.getLong(1))
      case None =>
        val obsRow = regionObs.get
        require(obsRow.contains("rows"),
          s"COW rewrite of $dir: the region metrics node was present in the " +
            "optimized plan but produced no metrics — report this shape")
        (obsRow("rows").asInstanceOf[Long], obsRow("matches").asInstanceOf[Long])
    }
    CowResult(touchedNames.size, totalFiles - touchedNames.size, regionRows, stagedRows,
      matchRows)
  }

  /** The shared journaled tail of the COW rewrites and [[mergeInto]]:
    * stage `out` as the replacement for `touchedNames` (plus any new
    * rows), through the table's own curve / partition layout / a flat
    * repartition; promote via the idempotent [[ScopedCommit]] journal —
    * retiring on manifest-tracked tables, deleting on plain ones — and
    * fold the file motion into the manifest's provenance lists. Returns
    * the staged row count.
    */
  private def stageAndCommit(dir: Path, prefix: String, out: DataFrame,
                             touchedNames: Seq[String], totalFiles: Int,
                             partCols: Seq[String],
                             m0: Option[LayoutManifest],
                             sampleFrom: Option[DataFrame] = None): Long = {
    val tmp = ScopedCommit.newStageDir(dir)
    ScopedCommit.sweepStages(fs, dir)
    val nOut = math.max(1, touchedNames.size)
    val staged0 = m0 match {
      case Some(m) if m.zCols.size >= 2 =>
        zorderStage(out, m.zCols, nOut, m.bits, sampleFrom)
      case _ if partCols.nonEmpty =>
        // partitioned layout — manifest-tracked (managed store) or not:
        // spread each partition's rows over ~touched-proportional tasks
        // (hash of the data columns — deterministic under task retry,
        // unlike rand), so one huge touched partition is not rewritten by
        // a single task while total file count stays ~touched
        val dataCols = out.columns.filterNot(partCols.contains).toSeq
        val nParts = math.max(1,
          touchedNames.map(n => n.substring(0, n.lastIndexOf('/'))).distinct.size)
        val spreadK = math.max(1, touchedNames.size / nParts)
        out.repartition(nOut,
          partCols.map(col) :+ pmod(hash(dataCols.map(col): _*), lit(spreadK)): _*)
      case _ => out.repartition(nOut)
    }
    // staged row count rides the write itself as an observed metric —
    // the previous `spark.read.parquet(tmp).count()` re-opened every
    // staged footer and paid one extra Spark job per commit (guide §1.2:
    // don't compute things twice)
    val stagedObs = org.apache.spark.sql.Observation()
    val writer = staged0.observe(stagedObs, count(lit(1)).as("rows"))
      .write.mode("overwrite")
    labeled(s"cow staging write ${dir.getName}")(
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(tmp.toString))
    var staged = listDataFilesDeep(tmp)
    // A partitionBy write of an EMPTY frame creates zero files (dynamic
    // partition writers open files lazily), so a DELETE matching every row
    // of a fully-touched partitioned table would promote nothing while
    // deleting every data file — the table would end file-less and every
    // later read fail schema inference. Mirror the flat path's guard: when
    // the delete empties the whole table, re-stage WITHOUT partitionBy so
    // one schema-only zero-row file (partition columns included as data
    // columns — the same read-back schema) keeps the table readable. A
    // partial delete that merely empties SOME partitions needs no carrier:
    // the untouched files still carry the schema.
    if (partCols.nonEmpty && staged.isEmpty && touchedNames.size == totalFiles) {
      out.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      staged = listDataFilesDeep(tmp)
    }
    // every touched row may be deleted: an empty stage promotes nothing
    // (reading an all-deleted tmp back would fail schema inference).
    // The carrier re-stage above writes `out` again (0 rows), so the
    // observed first-write count equals the re-read count in every case.
    val stagedRows =
      if (staged.isEmpty) 0L else stagedObs.get("rows").asInstanceOf[Long]
    // a fully-deleted region stages a schema-only zero-row file; it IS
    // promoted — it keeps an emptied table readable, and FileRect's
    // zero-row guard keeps it inert for the erosion test
    val epoch = m0.map(_.epoch + 1).getOrElse(1L)
    // promote in place: only the basename changes, the partition dirs ride
    // through (flat paths have no '/' and reduce to the old form)
    val renames = staged.map(s => s -> promoteName(s, prefix, epoch))
    val touchedSet = touchedNames.toSet
    val newM = m0.map { m =>
      val layers = (m.appends.map(_.filterNot(touchedSet)) :+ renames.map(_._2).sorted)
        .filter(_.nonEmpty)
      m.copy(epoch = epoch, base = m.base.filterNot(touchedSet), appends = layers)
    }
    // manifest-tracked tables RETIRE the touched originals (prior epochs
    // stay readable until vacuum); a plain parquet table has no history to
    // serve, so retiring would only strand unreachable bytes — delete
    ScopedCommit.replay(fs, dir, ScopedCommit.write(fs, dir, renames,
      deletes = if (newM.isDefined) Nil else touchedNames, manifest = newM,
      retires = if (newM.isDefined) touchedNames else Nil, stage = tmp))
    refreshCatalog(dir)
    stagedRows
  }

  /** Measured clustering quality, for recluster-or-skip decisions. */
  case class ErosionStats(baseFiles: Int, appendLayers: Int, appendFiles: Int,
                          touchedPerProbe: Double)

  /** Measure how eroded a curve-clustered table is WITHOUT rewriting
    * anything: expected number of files a narrow single-column probe must
    * open, estimated from the same footer min/max rectangles the scan
    * planner skips with — for each layout dimension, a uniformly-placed
    * point probe touches file f with probability width(f)/width(domain)
    * (files without usable stats always count), and the statistic is the
    * worst dimension's expectation. A fresh layout sits near its
    * per-dimension floor; every append layer adds roughly one full cover
    * of the key space, pushing the expectation up by ~1 per layer.
    *
    * The measured value is persisted into the table manifest
    * (`stat_touched`), so a scheduler can read the last measurement as a
    * table property without re-paying the footer pass.
    */
  def erosionStats(rel: String): ErosionStats = {
    val dir = new Path(s"$baseDir/$rel")
    val m = recoverAndRead(dir).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — erosionStats needs layout provenance"))
    require(!m.isPartitioned,
      s"$rel is a managed PARTITIONED store — the erosion statistic measures " +
        "curve-layout overlap; partition layouts do not erode")
    val onDisk = listDataFiles(dir)
    // zero-row files (Spark's schema-only empty-write shape, e.g. the file
    // a fully-deleted COW region promotes to keep the table readable) can
    // never compete with a probe — mirroring FileRect.intersects' rows
    // guard; counting them as probability-1 in every dimension would let
    // ONE such file permanently inflate the statistic by ~1 and trip
    // maintainZordered into rewrites that change nothing
    val rects = labeled(s"erosion footer rects ${dir.getName}")(
      FileRect.readAll(spark, dir.toString, onDisk, m.zCols))
      .values.toSeq.filter(_.rows > 0L)
    val perDim = m.zCols.indices.map { d =>
      val bounds = rects.flatMap(r => for (a <- r.lo(d); b <- r.hi(d)) yield (a, b))
      val statless = rects.size - bounds.size
      if (bounds.isEmpty) rects.size.toDouble
      else {
        val w = bounds.map(_._2).max - bounds.map(_._1).min
        if (w <= 0) rects.size.toDouble // degenerate domain: every file competes
        else statless + bounds.map { case (a, b) => (b - a) / w }.sum
      }
    }
    val touched = perDim.max
    // the stat refresh rewrites the committed epoch's snapshot (same
    // epoch, same file set, committed_at preserved), so it must hold the
    // SAME serialization the mutators do: claim the next epoch for the
    // duration of the write (validating the manifest is still at m.epoch
    // under the claim), release after. Without this, a measure racing a
    // committed mutation could clobber the new epoch's snapshot with a
    // stale one.
    withSameEpochClaim(dir, m) {
      LayoutManifest.rewriteSameEpoch(fs, dir, m.copy(touched = Some(touched)))
    }
    ErosionStats(m.base.size, m.appends.size, m.appends.map(_.size).sum, touched)
  }

  /** The maintenance decision a daily OPTIMIZE job runs: measure erosion,
    * recluster the eroded scope only when the expected probe cost exceeds
    * `maxTouchedPerProbe`, otherwise leave the table byte-identical.
    * Returns the pass's stats when it ran.
    *
    * `maxAppendFiles` is the SMALL-FILE trigger the erosion statistic
    * cannot see: many thin append layers in fresh key space never erode a
    * base rect (each probe still touches few files), but every scan pays
    * their per-file open/footer overhead. When the accreted append-layer
    * file count crosses the threshold, the scoped pass runs anyway:
    * append files are always in its rewrite region, so thin layers fold
    * into ~file-sized output (output count scales with rewritten bytes)
    * while untouched base files still never move.
    */
  def maintainZordered(rel: String, maxTouchedPerProbe: Double,
                       maxAppendFiles: Option[Int] = None): Option[ScopedStats] = {
    val e = erosionStats(rel)
    if (e.touchedPerProbe > maxTouchedPerProbe ||
        maxAppendFiles.exists(e.appendFiles > _)) Some(scopedRecluster(rel))
    else None
  }

  // ---- snapshot retention / time travel over the manifest epochs ---------
  //
  // Every layout mutator above commits a NEW manifest epoch (journaled
  // where several files move together) and snapshots it under the hidden
  // `.graft_history/v<epoch>`; replaced data files are RETIRED into
  // `.graft_retired/` (one atomic rename each) instead of deleted. The
  // result is Delta/Iceberg-style versioned reads on a path-addressed
  // store: a manifest snapshot pins an exact file set, the files stay
  // resolvable until an explicit [[vacuum]], and physical deletion is a
  // separate, crash-replayable maintenance decision instead of a side
  // effect of every mutation. Reference anchor: the reference pipeline
  // versions its CSV artifacts through DVC pointer history
  // (/root/reference/.dvc/config:1-6); [[Versioning]] mirrors that for
  // the export artifacts, and THIS brings the same property to the
  // parquet layout stores a 100 TB operator actually serves from.

  /** Epochs currently readable via [[readVersion]], ascending. Only real
    * `v<epoch>` snapshots count (`c<epoch>` CLAIM tokens — [[claimEpoch]]
    * — share the history dir but are not versions), and only epochs AT OR
    * BELOW the committed epoch — with immutable commit pointers the
    * committed epoch IS the max snapshot, so the bound's remaining job is
    * consistency: a commit landing between this method's manifest read
    * and its listing must not surface an epoch newer than the committed
    * state the caller was just told about.
    */
  def listVersions(rel: String): Seq[Long] = {
    val dir = new Path(s"$baseDir/$rel")
    val hd = LayoutManifest.historyDir(dir)
    if (!fs.exists(hd)) return Nil
    val committed = LayoutManifest.read(fs, dir).map(_.epoch).getOrElse(-1L)
    fs.listStatus(hd).toSeq
      .filter(st => st.isFile && st.getLen > 0L && st.getPath.getName.startsWith("v"))
      .flatMap(st => scala.util.Try(st.getPath.getName.stripPrefix("v").toLong).toOption)
      .filter(_ <= committed)
      .sorted
  }

  /** The committed manifest epoch, for consumers that track the table as
    * a changelog (the streaming face's `latestOffset`). Loud on a
    * manifest-less dir, like every manifest-driven read.
    */
  private[graft] def currentEpoch(rel: String): Long = {
    val dir = new Path(s"$baseDir/$rel")
    LayoutManifest.read(fs, dir).map(_.epoch).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — epochs need layout provenance"))
  }

  /** The file NAMES of manifest `epoch` — no existence resolution (the
    * streaming face diffs epochs by name; a vacuumed snapshot stays loud).
    */
  private[graft] def versionFileNames(rel: String, epoch: Long): Seq[String] =
    snapshotAt(rel, new Path(s"$baseDir/$rel"), epoch).allFiles

  /** Epoch `epoch`'s history snapshot, read once; missing, empty and
    * non-manifest are all loud.
    */
  private def snapshotAt(rel: String, dir: Path, epoch: Long): LayoutManifest = {
    val lines =
      try LayoutManifest.readLines(fs, LayoutManifest.snapshotPath(dir, epoch))
      catch { case _: java.io.FileNotFoundException => Nil }
    if (!lines.exists(_.startsWith("zcols="))) notReadable(rel, epoch)
    LayoutManifest.fromLines(lines)
  }

  private def notReadable(rel: String, epoch: Long): Nothing =
    throw new IllegalStateException(
      s"epoch $epoch of $rel is not readable — vacuumed, never committed, or an " +
        s"unfinished claim (available: ${listVersions(rel).mkString(", ")})")

  /** Snapshot `sm`'s commit wall-clock: its `committed_at` stamp, or the
    * file mtime for a pre-stamp legacy snapshot.
    */
  private def commitStamp(dir: Path, epoch: Long, sm: LayoutManifest): Long =
    sm.committedAt.getOrElse(
      fs.getFileStatus(LayoutManifest.snapshotPath(dir, epoch)).getModificationTime)

  /** One readable epoch's metadata, for history listings. `committedAtMs`
    * is the commit wall-clock STAMPED INTO the snapshot at commit time
    * (`committed_at` line — stable across same-epoch stat refreshes and
    * laggard replays, so a `TIMESTAMP AS OF` that resolved to epoch N
    * keeps resolving to N after maintenance); pre-stamp legacy snapshots
    * fall back to the file mtime.
    */
  case class VersionInfo(epoch: Long, committedAtMs: Long, files: Int,
                         isCurrent: Boolean)

  /** [[listVersions]] with per-epoch metadata — the backing of the SQL
    * `<table>$history` face (the `DESCRIBE HISTORY` role): epoch number,
    * commit wall-clock, file count, and whether it is the current epoch.
    * O(epochs) snapshot reads, metadata only.
    */
  def versionHistory(rel: String): Seq[VersionInfo] = {
    val dir = new Path(s"$baseDir/$rel")
    val current = LayoutManifest.read(fs, dir).map(_.epoch).getOrElse(-1L)
    listVersions(rel).flatMap { e =>
      // a vacuum racing this listing may drop a snapshot mid-iteration:
      // skip that row rather than list an unreadable epoch
      try {
        val sm = LayoutManifest.fromLines(
          LayoutManifest.readLines(fs, LayoutManifest.snapshotPath(dir, e)))
        Some(VersionInfo(e, commitStamp(dir, e, sm), sm.allFiles.size, e == current))
      } catch { case _: java.io.FileNotFoundException => None }
    }
  }

  /** Multi-writer guard — the manifest-epoch CAS: atomically CLAIM
    * `newEpoch` before any data motion, by exclusive-create of
    * `.graft_history/c<newEpoch>` (create-if-absent is atomic on
    * local/HDFS semantics). Of two concurrent mutators that both read
    * manifest epoch N and both try to claim N+1, exactly one proceeds —
    * the loser fails LOUDLY here with the table untouched, instead of the
    * two interleaving through the shared stage dir and corrupting the
    * journal (the single-writer contract, now enforced, not just
    * documented). The committing manifest write releases the claim
    * ([[LayoutManifest.write]]), so claims never outlive their epoch
    * transition; claims BELOW the committed epoch are finished by
    * definition (only their holder could have advanced the manifest past
    * them) and are swept here, so a crash between commit and release
    * never wedges the table.
    *
    * The claim's content is a fresh UUID, quoted by the conflict error. A
    * crash between claim and commit leaves the FRONTIER claim blocking
    * mutations until [[releaseStaleClaims]] — fail-loud beats
    * fail-corrupt, and automatic frontier cleanup would reintroduce the
    * exact lost-claim race the guard exists to prevent.
    */
  private def claimEpoch(dir: Path, newEpoch: Long, prevEpoch: Long): Unit = {
    val token = java.util.UUID.randomUUID.toString
    val hd = LayoutManifest.historyDir(dir)
    fs.mkdirs(hd)
    // sweep finished claims (epoch transitions the manifest already moved
    // past) — safe concurrently: only the finished holder's own release
    // races this delete, and both delete the same dead file
    fs.listStatus(hd).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("c") &&
          scala.util.Try(n.stripPrefix("c").toLong).toOption.exists(_ < newEpoch))
        fs.delete(st.getPath, false)
    }
    val hp = LayoutManifest.claimPath(dir, newEpoch)
    // Exclusive-create primitive per scheme: fs.create(path, overwrite=false)
    // is an atomic create-if-absent on HDFS, but RawLocalFileSystem (and
    // S3A) implement it as exists-check-then-create — two same-host local
    // writers could both "win". For file:// the claim rides
    // java.nio CREATE_NEW, which maps to O_CREAT|O_EXCL — a kernel-atomic
    // create that throws FileAlreadyExistsException for the loser.
    val created =
      if ("file" == fs.getScheme) {
        val local = java.nio.file.Paths.get(hp.toUri.getPath)
        try {
          java.nio.file.Files.write(local, token.getBytes("UTF-8"),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { val out = fs.create(hp, false); out.write(token.getBytes("UTF-8")); out.close(); true }
        catch {
          case e: java.io.IOException =>
            // only an EXISTING claim is a conflict; any other create failure
            // (permissions, safe-mode, network) must stay a loud I/O error,
            // not a misleading "another writer" message
            if (fs.exists(hp)) false else throw e
        }
      }
    if (!created) {
      val existing =
        try LayoutManifest.readLines(fs, hp).mkString("\n")
        catch { case _: Exception => "" }
      throw new java.util.ConcurrentModificationException(
        s"epoch $newEpoch of $dir is already claimed by another writer " +
          s"(claim='${existing.take(40)}') — a concurrent mutation is in flight, or one " +
          "crashed mid-commit; if no writer is live, run releaseStaleClaims(rel)")
    }
    // VALIDATE after winning: the claim file is deleted when its epoch
    // commits, so create-if-absent alone cannot distinguish "nobody is
    // mutating" from "that transition already happened and this mutator's
    // manifest read is stale" — a stale winner would rebuild epoch
    // newEpoch from pre-transition state and silently drop the committed
    // mutation from provenance. `prevEpoch` is what the caller READ (-1
    // for a manifest-less/fresh table); the re-read under the held claim
    // is race-free: every epoch-advancing commit happens under its claim
    // and releases it only after the manifest rename is visible.
    val committed = LayoutManifest.read(fs, dir).map(_.epoch).getOrElse(-1L)
    if (committed != prevEpoch) {
      fs.delete(hp, false) // our claim; release before failing
      throw new java.util.ConcurrentModificationException(
        s"table at $dir advanced to epoch $committed since this mutator read it " +
          s"(expected $prevEpoch) — re-read the table and retry")
    }
  }

  /** A SAME-epoch manifest rewrite (e.g. the erosion-stat refresh) under
    * the claim machinery: claim the next epoch for the write's duration,
    * always release — the epoch never commits, so [[LayoutManifest.write]]
    * cannot release it (it releases the epoch it writes). One place for
    * this non-obvious pairing; a hard crash mid-body still needs
    * [[releaseStaleClaims]], like any crashed claim holder.
    */
  private def withSameEpochClaim[T](dir: Path, m: LayoutManifest)(body: => T): T = {
    claimEpoch(dir, m.epoch + 1, m.epoch)
    try body
    finally fs.delete(LayoutManifest.claimPath(dir, m.epoch + 1), false)
  }

  /** Run a mutator body under an epoch claim, releasing the claim when an
    * IN-PROCESS failure aborts before anything committed — a thrown
    * validation error or failed staging job must not wedge the table's
    * write path behind a dead claim (hard crashes still need
    * [[releaseStaleClaims]]: a dead process cannot release anything).
    * The release is skipped when a commit journal exists — from that
    * point the journal replays to completion and its manifest write
    * releases the claim itself.
    */
  private def withEpochClaim[T](dir: Path, newEpoch: Long, prevEpoch: Long)(
      body: => T): T = {
    claimEpoch(dir, newEpoch, prevEpoch)
    try body
    catch {
      case e: Throwable =>
        try {
          if (!ScopedCommit.anyMarker(fs, dir))
            fs.delete(LayoutManifest.claimPath(dir, newEpoch), false)
        } catch { case _: Exception => () } // never mask the real failure
        throw e
    }
  }

  /** Admin release of a crashed writer's FRONTIER leftovers: the epoch
    * CLAIM beyond the committed epoch that blocks mutations. Run only
    * when no writer is live — the explicit operator override of the
    * fail-loud claim. Finished claims below the frontier self-sweep in
    * [[claimEpoch]]; committed snapshots are [[vacuum]]'s to manage.
    * SNAPSHOTS are never touched here: under the immutable-pointer
    * discipline a `v<N>` file IS a committed epoch (its create is the
    * commit point, sequenced after all data motion) — a "phantom
    * snapshot" state cannot be produced, and deleting the max snapshot
    * would BE the rollback this design eliminates.
    */
  def releaseStaleClaims(rel: String): Int = {
    val dir = new Path(s"$baseDir/$rel")
    val m = recoverAndRead(dir).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — nothing to release"))
    val hd = LayoutManifest.historyDir(dir)
    if (!fs.exists(hd)) return 0
    var released = 0
    fs.listStatus(hd).foreach { st =>
      val n = st.getPath.getName
      val stale = n.startsWith("c") &&
        scala.util.Try(n.drop(1).toLong).toOption.exists(_ > m.epoch)
      // a writer that died between staging a `.w_…` metadata tmp and its
      // link/rename leaves the tmp (and its checksum sidecar) as hidden
      // debris nothing else reclaims — this no-writer-is-live path is the
      // only place a sweep cannot race a commit mid-stage (claimEpoch's
      // sweep could: a LIVE epoch holder stages its snapshot tmp while a
      // loser runs the sweep)
      val debris = n.contains(".w_")
      if (stale || debris) {
        fs.delete(st.getPath, false)
        if (stale) released += 1
      }
    }
    // a crashed claim holder's markerless stage is garbage once its claim
    // is gone (recover deliberately leaves CLAIMED stages alone — the
    // holder might be live; this is the explicit operator path that knows
    // no writer is)
    if (released > 0) ScopedCommit.sweepStages(fs, dir)
    released
  }

  /** Read the table exactly as it stood at manifest `epoch` — the file
    * set is resolved from that epoch's history snapshot against the live
    * directory and the retired dir, NEVER from a listing, so the result
    * can never contain duplicates or miss rows (the mid-commit window a
    * listing-based read of the live directory can hit). Fails loudly when
    * the epoch was vacuumed. O(1) data reads beyond the epoch's own
    * files: resolution is two directory listings of metadata.
    *
    * Concurrency boundary: resolution is eager but the returned frame is
    * lazy — a maintenance pass that RETIRES a resolved-live file (or a
    * vacuum that deletes a resolved-retired one) between resolution and
    * the action fails the scan with a missing-file error: loud, never
    * wrong. Readers that must overlap maintenance should retry on that
    * error (re-resolution finds the file at its new home) or act
    * promptly after resolving; reads of vacuum-retained epochs against a
    * paused writer are exact by construction.
    */
  def readVersion(rel: String, epoch: Long): DataFrame =
    scan(rel, resolveVersion(rel, epoch))

  /** The read of a resolution, shared by every manifest-driven reader.
    * Partitioned manifests anchor the read at the table root, so Spark's
    * partition parser reconstructs the `key=value` columns for live AND
    * nested-retired files alike (flat manifests have no partition dirs).
    * An EVOLVED epoch declares its schema in the snapshot: every file is
    * projected to it (columns a pre-evolution file lacks read as null) —
    * each epoch reads under ITS OWN schema, so VERSION AS OF a pre-ALTER
    * epoch shows the narrow schema and a post-ALTER one the wide.
    */
  private def scan(rel: String, r: Store.ResolvedVersion): DataFrame = {
    val reader0 =
      if (r.partCols.nonEmpty) spark.read.option("basePath", s"$baseDir/$rel")
      else spark.read
    r.schema.map(reader0.schema).getOrElse(reader0).parquet(r.paths: _*)
  }

  /** One statement's recovery and committed-manifest read, the way every
    * lakehouse entry point opens a table: finish a crashed journaled
    * commit, then read the manifest once. A missing table reads as None.
    */
  private def recoverAndRead(dir: Path): Option[LayoutManifest] = {
    ScopedCommit.recover(fs, dir)
    LayoutManifest.read(fs, dir)
  }

  /** [[readVersion]]'s resolution step alone: the epoch's file NAMES
    * resolved to their current homes (live dir vs retired dir) as full
    * paths, plus the manifest's partition columns (empty for flat
    * layouts) — the hook the DSv2 catalog face builds its pinned tables
    * from. Same validation and failure modes as [[readVersion]].
    */
  private[graft] def resolveVersion(rel: String, epoch: Long): Store.ResolvedVersion = {
    val dir = new Path(s"$baseDir/$rel")
    resolveAt(rel, dir, epoch, recoverAndRead(dir))
  }

  /** Resolve `epoch` against `current`, the committed manifest that
    * [[recoverAndRead]] returned for this statement.
    */
  private def resolveAt(rel: String, dir: Path, epoch: Long,
                        current: Option[LayoutManifest]): Store.ResolvedVersion = {
    // epoch <= committed: with immutable commit pointers the committed
    // epoch IS the max snapshot, so this is a consistency bound (a commit
    // racing this resolution stays invisible until re-resolved), not a
    // phantom filter — a v<N> snapshot is a commit by construction
    val committed = current.map(_.epoch).getOrElse(-1L)
    // the committed epoch's snapshot is the manifest already read; an older
    // one is read once — missing, empty and non-manifest are all loud
    val m = current.filter(_.epoch == epoch).getOrElse(
      if (epoch > committed) notReadable(rel, epoch) else snapshotAt(rel, dir, epoch))
    val live = listDataFilesDeep(dir).toSet
    val retired = listRetired(dir).keySet
    val paths = m.allFiles.map { n =>
      if (live(n)) s"$dir/$n"
      else if (retired(n)) LayoutManifest.retiredPath(dir, n).toString
      else throw new IllegalStateException(
        s"epoch $epoch of $rel references $n, which is neither live nor retired — " +
          "the snapshot is no longer materializable; vacuum the stale epoch")
    }
    require(paths.nonEmpty, s"epoch $epoch of $rel lists no data files")
    Store.ResolvedVersion(paths, m.partCols, m.allFiles, m.schema)
  }

  /** Resolve a SMALL set of root-relative file `names` to their current
    * homes (live path, else retired) with per-name existence probes —
    * O(names) metadata, the per-micro-batch shape the epoch stream needs:
    * [[resolveVersion]] pays TWO whole-table metadata walks
    * (listDataFilesDeep + listRetired) per call, which is O(table files)
    * per batch no matter how small the delta. Same recovery discipline
    * and same loudness (a name that is neither live nor retired throws
    * the resolveVersion message); same concurrency boundary too — a
    * retire landing between resolution and the scan fails the read
    * loudly, never wrongly.
    */
  private[graft] def resolveNames(rel: String, epoch: Long,
                                  names: Seq[String]): Seq[String] = {
    ScopedCommit.recover(fs, new Path(s"$baseDir/$rel"))
    locateNames(rel, epoch, names)
  }

  /** [[resolveNames]] without its recovery, for a statement that already
    * recovered (the change feed's per-epoch region reads).
    */
  private def locateNames(rel: String, epoch: Long, names: Seq[String]): Seq[String] = {
    val dir = new Path(s"$baseDir/$rel")
    names.map { n =>
      val livePath = new Path(dir, n)
      if (fs.exists(livePath)) livePath.toString
      else {
        val rp = LayoutManifest.retiredPath(dir, n)
        if (fs.exists(rp)) rp.toString
        else throw new IllegalStateException(
          s"epoch $epoch of $rel references $n, which is neither live nor retired — " +
            "the snapshot is no longer materializable; vacuum the stale epoch")
      }
    }
  }

  /** Every retired file under `dir`, keyed by its ROOT-RELATIVE data name
    * (the identity manifests record): the table root's `.graft_retired`
    * children (flat layouts) plus each partition directory's nested
    * `.graft_retired` children (partitioned layouts) — one metadata walk,
    * no data pages.
    */
  private def listRetired(dir: Path): Map[String, org.apache.hadoop.fs.FileStatus] = {
    val out = Map.newBuilder[String, org.apache.hadoop.fs.FileStatus]
    def walk(d: Path, prefix: String): Unit =
      fs.listStatus(d).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (n == LayoutManifest.RetiredDirName)
            fs.listStatus(st.getPath).foreach(f =>
              if (f.isFile) out += (prefix + f.getPath.getName) -> f)
          else if (!Store.hidden(n))
            walk(st.getPath, s"$prefix$n/")
        }
      }
    if (fs.exists(dir)) walk(dir, "")
    out.result()
  }

  /** Manifest-driven read of the CURRENT epoch — the duplicate-free
    * alternative to listing the live directory: a listing taken between a
    * journal's rename-in and retire steps sees promoted copies AND
    * originals at once; the manifest pins exactly one file set. Use for
    * correctness-critical reads of tables under continuous maintenance.
    */
  def readSnapshot(rel: String): DataFrame = scan(rel, resolveSnapshot(rel))

  /** [[readSnapshot]]'s resolution step alone — see [[resolveVersion]]. */
  private[graft] def resolveSnapshot(rel: String): Store.ResolvedVersion = {
    val dir = new Path(s"$baseDir/$rel")
    val current = recoverAndRead(dir)
    val m = current.getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — readSnapshot needs layout provenance"))
    resolveAt(rel, dir, m.epoch, current)
  }

  /** ROW-LEVEL CHANGE FEED over the manifest epochs — the Delta CDF role
    * for consumers downstream of COW DELETE/UPDATE/MERGE, where the
    * append-only epoch STREAM refuses rewrites by design: one row per
    * changed row per epoch in `(sinceEpoch, untilEpoch]`, stamped
    * `_change_type` (insert / delete / update_preimage /
    * update_postimage), `_commit_epoch`, `_commit_ts`.
    *
    * The per-epoch delta comes from the SNAPSHOTS, never a listing: an
    * epoch that only ADDS files is a pure append — its added files' rows
    * emit as inserts with no join at all; a REWRITE epoch (COW
    * delete/update/merge, OPTIMIZE, partition re-upsert) diffs the
    * retired file set against its replacements, KEYED on the table's
    * declared key: old-only keys are deletes, new-only inserts, keys on
    * both sides with different content emit the update pre/post pair —
    * and identical content emits NOTHING, so a pure layout pass
    * (recluster, compaction) is change-feed silent, exactly the property
    * that makes maintenance invisible downstream.
    *
    * Scale shape: cost is O(delta files) per epoch — the rewrite join
    * runs only over the touched region's rows, driver work is O(epochs)
    * metadata. Rows are projected to the UNTIL epoch's schema (evolved
    * columns read null from pre-evolution vintages — Delta's CDF-under-
    * latest-schema convention).
    *
    * Contract: `key` must uniquely identify rows WITHIN each rewritten
    * region (validated eagerly per rewrite epoch, one bounded aggregation
    * over the delta — SQL MERGE's cardinality law, without which pre/post
    * pairing is ill-defined). Resolution is eager, the frame lazy; the
    * usual retire/vacuum race fails the scan loudly ([[readVersion]]'s
    * boundary). Epochs in range must still be readable — a vacuumed one
    * is loud, never a silent gap.
    */
  def changeFeed(rel: String, key: Seq[String], sinceEpoch: Long,
                 untilEpoch: Option[Long] = None): DataFrame = {
    require(key.nonEmpty, "changeFeed needs the table's key column(s)")
    val dir = new Path(s"$baseDir/$rel")
    val m = recoverAndRead(dir)
    val current = m.map(_.epoch).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — epochs need layout provenance"))
    val until = untilEpoch.getOrElse(current)
    require(until <= current,
      s"untilEpoch $until is beyond the current epoch $current of $rel")
    require(sinceEpoch >= -1 && sinceEpoch <= until,
      s"sinceEpoch must be in [-1, $until], got $sinceEpoch")
    // each snapshot the feed needs is read once (the committed one is `m`):
    // its file names give the per-epoch deltas, its stamp the commit time
    val untilM = m.filter(_.epoch == until).getOrElse(snapshotAt(rel, dir, until))
    val untilRes = resolveAt(rel, dir, until, Some(untilM))
    // uniform output schema: the until epoch's own read schema (declared
    // when evolved, else the files' physical schema + partition columns)
    val outSchema = scan(rel, untilRes).schema
    val missing = key.filterNot(k => outSchema.fieldNames.exists(_.equalsIgnoreCase(k)))
    require(missing.isEmpty,
      s"key column(s) not in $rel: ${missing.mkString(", ")} " +
        s"(schema: ${outSchema.fieldNames.mkString(", ")})")
    val snaps = (math.max(sinceEpoch, 0L) until until).map(e => e -> snapshotAt(rel, dir, e))
      .toMap + (until -> untilM)
    val commitTs: Map[Long, Long] = snaps.map { case (e, sm) => e -> commitStamp(dir, e, sm) }
    def readNames(epoch: Long, names: Seq[String]): DataFrame =
      if (names.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
      else scan(rel, untilRes.copy(paths = locateNames(rel, epoch, names),
        schema = Some(outSchema)))
    def stamp(df: DataFrame, tpe: String, epoch: Long): DataFrame =
      df.select(outSchema.fieldNames.map(col).toSeq :+
        lit(tpe).as("_change_type") :+
        lit(epoch).as("_commit_epoch") :+
        lit(new java.sql.Timestamp(commitTs.getOrElse(epoch, 0L))).as("_commit_ts"): _*)
    // per-epoch file deltas, resolved once (driver metadata only)
    val deltas = ((sinceEpoch + 1) to until).map { e =>
      val prevNames = if (e == 0L) Set.empty[String] else snaps(e - 1).allFiles.toSet
      val eNames = snaps(e).allFiles
      (e, eNames.filterNot(prevNames), (prevNames -- eNames).toSeq.sorted)
    }
    // the pre/post pairing is only defined on unique keys — validate over
    // exactly the delta regions (bounded), loudly. ONE job for EVERY
    // rewrite epoch in range (epoch and side ride the grouping key) —
    // the per-epoch check was one job each (optimization round 21)
    val rewriteEpochs = deltas.filter(_._3.nonEmpty)
    if (rewriteEpochs.nonEmpty) {
      val kc = key.map(col)
      val checkFrames = rewriteEpochs.flatMap { case (e, added, dropped) =>
        Seq(readNames(e, dropped)
          .select(lit(e).as("__epoch") +: lit("retired").as("__side") +: kc: _*),
          readNames(e, added)
            .select(lit(e).as("__epoch") +: lit("replacement").as("__side") +: kc: _*))
      }
      val dup = labeled(s"change-feed key check $rel")(
        checkFrames.reduce(_ unionByName _)
          .groupBy(col("__epoch") +: col("__side") +: kc: _*)
          .agg(count(lit(1)).as("__n"))
          .where(col("__n") > 1).select(col("__epoch"), col("__side"))
          .limit(1).collect())
      require(dup.isEmpty,
        s"changeFeed($rel): key (${key.mkString(", ")}) is not unique in " +
          s"epoch ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)}'s " +
          s"${dup.headOption.map(_.getString(1)).getOrElse("")} region — " +
          "pre/post pairing is ill-defined; pass the table's full key")
    }
    val perEpoch = deltas.map { case (e, added, dropped) =>
      if (dropped.isEmpty) stamp(readNames(e, added), "insert", e)
      else {
        val oldR = readNames(e, dropped)
        val newR = readNames(e, added)
        // ONE pass over the joined delta: each row explodes into its 0-2
        // change rows (identical pre/post content explodes into none) —
        // no cache, no 4-way re-read of the region
        val dataCols = outSchema.fieldNames.toSeq
        val o = oldR.select(struct(dataCols.map(col): _*).as("__o"))
        val n = newR.select(struct(dataCols.map(col): _*).as("__n"))
        val joined = o.join(n,
          key.map(k => col(s"__o.$k") <=> col(s"__n.$k")).reduce(_ && _),
          "full_outer")
        def tagged(r: org.apache.spark.sql.Column, t: String) =
          struct(r.as("r"), lit(t).as("t"))
        // an unmatched when-chain yields NULL and explode(null) emits no
        // rows — exactly the silent case (pre == post: pure layout motion)
        val rows = joined.select(explode(
          when(col("__n").isNull, array(tagged(col("__o"), "delete")))
            .when(col("__o").isNull, array(tagged(col("__n"), "insert")))
            .when(!(col("__o") <=> col("__n")),
              array(tagged(col("__o"), "update_preimage"),
                tagged(col("__n"), "update_postimage")))).as("__x"))
        rows.select(col("__x.r.*"), col("__x.t").as("_change_type"))
          .withColumn("_commit_epoch", lit(e))
          .withColumn("_commit_ts",
            lit(new java.sql.Timestamp(commitTs.getOrElse(e, 0L))))
      }
    }
    if (perEpoch.isEmpty)
      stamp(readNames(until, Nil), "insert", until).where(lit(false))
    else perEpoch.reduce(_ unionByName _)
  }

  /** Result of a [[vacuum]] pass, for logging and specs. */
  case class VacuumStats(keptEpochs: Seq[Long], droppedEpochs: Seq[Long],
                         removedFiles: Int, reclaimedBytes: Long)

  /** Reclaim the storage behind all but the newest `keepLast` epochs:
    * drop their history snapshots, then delete every retired file no kept
    * epoch references. Deletion order is the crash contract — snapshots
    * go FIRST, so an interrupted vacuum leaves dropped epochs failing
    * loudly at the epoch level ("not readable") rather than mid-scan on
    * a missing data file, and a re-run completes the reclaim (idempotent:
    * both steps are deletes keyed off what still exists). Live files are
    * never touched — the current epoch is always kept. This is the only
    * operation that ever physically deletes a retired byte.
    */
  def vacuum(rel: String, keepLast: Int): VacuumStats = {
    require(keepLast >= 1, "vacuum must keep at least the current epoch")
    val dir = new Path(s"$baseDir/$rel")
    val m = recoverAndRead(dir).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — vacuum needs layout provenance"))
    val versions = listVersions(rel)
    val keep = versions.takeRight(keepLast).toSet + m.epoch
    val drop = versions.filterNot(keep)
    val hd = LayoutManifest.historyDir(dir)
    drop.foreach(e => fs.delete(new Path(hd, s"v$e"), false))
    // union of every kept epoch's file set (+ the current manifest's, in
    // case its snapshot write was interrupted) = what must stay resolvable
    val referenced = keep.toSeq.sorted.flatMap { e =>
      val p = new Path(hd, s"v$e")
      if (fs.exists(p)) LayoutManifest.fromLines(LayoutManifest.readLines(fs, p)).allFiles
      else Nil
    }.toSet ++ m.allFiles
    var removed = 0
    var bytes = 0L
    listRetired(dir).foreach { case (name, st) =>
      if (!referenced(name)) {
        bytes += st.getLen
        fs.delete(st.getPath, false)
        removed += 1
        // an emptied NESTED retired dir (partitioned layouts) is dead
        // weight inside its partition dir — drop it; non-recursive, so a
        // concurrent retire racing a file in simply keeps it
        if (name.contains('/')) {
          val rdDir = st.getPath.getParent
          try {
            if (fs.exists(rdDir) && fs.listStatus(rdDir).isEmpty)
              fs.delete(rdDir, false)
          } catch { case _: java.io.IOException => () }
        }
      }
    }
    // re-pin registered views: a version view whose epoch just dropped
    // must become a loud-on-use error, not a silently broken scan
    refreshCatalog(dir)
    VacuumStats(keep.toSeq.sorted, drop, removed, bytes)
  }

  /** Measured retention pressure, for vacuum-or-skip decisions. */
  case class RetentionStats(liveBytes: Long, retiredBytes: Long, epochs: Int)

  /** Measure how much reclaimable history a table is carrying WITHOUT
    * touching any data: live bytes (current epoch), retired bytes (held
    * only for time travel), and the epoch count. Two directory listings
    * of metadata — O(files), no data pages.
    */
  def retentionStats(rel: String): RetentionStats = {
    val dir = new Path(s"$baseDir/$rel")
    if (!fs.exists(dir)) throw new IllegalStateException(
      s"$rel does not exist — retentionStats needs a written table")
    ScopedCommit.recover(fs, dir)
    val live = listDataFilesDeep(dir)
      .map(n => fs.getFileStatus(new Path(dir, n)).getLen).sum
    val retired = listRetired(dir).values.map(_.getLen).sum
    RetentionStats(live, retired, listVersions(rel).size)
  }

  /** The retention decision a daily maintenance job runs beside
    * [[maintainZordered]]: vacuum down to `keepLast` epochs only when
    * retired bytes exceed `maxRetiredFraction` of live bytes, otherwise
    * leave every epoch readable. This is the missing half of the
    * maintenance loop — mutations retire bytes continuously (time
    * travel's storage cost), and without a measured trigger the operator
    * must either vacuum blindly on a clock or let history grow unbounded.
    * Returns the vacuum's stats when it ran.
    */
  def maintainRetention(rel: String, maxRetiredFraction: Double,
                        keepLast: Int): Option[VacuumStats] = {
    val s = retentionStats(rel)
    if (s.retiredBytes > maxRetiredFraction * math.max(1L, s.liveBytes))
      Some(vacuum(rel, keepLast))
    else None
  }

  /** Result of a [[compactPartitionsManaged]] pass, for logging and specs. */
  case class PartCompactStats(partitionsCompacted: Int, filesIn: Int,
                              filesOut: Int, bytesRewritten: Long)

  /** Small-file compaction for MANAGED PARTITIONED stores — the
    * maintenance half the partitioned shape was missing
    * ([[scopedRecluster]] refuses partitioned stores): each nightly
    * [[upsertPartitionsManaged]] writes its day in as many files as tasks
    * carried rows, and a month of ingests leaves
    * every partition paying per-file open/footer overhead on every scan.
    * This pass rewrites ONLY the partitions whose file count exceeds both
    * `maxFilesPerPartition` and their byte-optimal count
    * (ceil(bytes/targetBytes)), as one retire-backed epoch: replaced
    * files retire into their in-partition retired dirs (prior epochs stay
    * readable until vacuum), untouched partitions never open or move
    * (spec pins byte/mtime identity), and the change feed is SILENT for
    * it (content-identical pairs emit nothing). Cost scales with the
    * fragmented partitions, never the table.
    */
  def compactPartitionsManaged(rel: String,
                               targetBytes: Long = 128L * 1024 * 1024,
                               maxFilesPerPartition: Int = 1): PartCompactStats = {
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    val dir = new Path(s"$baseDir/$rel")
    val m = recoverAndRead(dir).getOrElse(throw new IllegalStateException(
      s"$rel has no layout manifest — compactPartitionsManaged needs a managed " +
        "partitioned store (writePartitionedManaged provenance)"))
    require(m.isPartitioned,
      s"$rel is curve-clustered — scopedRecluster/maintainZordered manage its files")
    // measure from the manifest + one metadata stat per file: a partition
    // is fragmented when it holds more files than BOTH the operator cap
    // and its byte-optimal count (a partition of 4 big files at cap 8 is
    // healthy; 40 tiny files is not)
    val byDir = m.allFiles.filter(_.contains('/'))
      .groupBy(n => n.substring(0, n.lastIndexOf('/')))
    val sizes = m.allFiles.filter(_.contains('/'))
      .map(n => n -> fs.getFileStatus(new Path(dir, n)).getLen).toMap
    val plan = byDir.map { case (d, names) =>
      val bytes = names.map(sizes).sum
      val targetN = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
      (d, names, bytes, targetN)
    }.filter { case (_, names, _, targetN) =>
      names.size > math.max(targetN, maxFilesPerPartition.toLong)
    }.toSeq.sortBy(_._1)
    if (plan.isEmpty) return PartCompactStats(0, 0, 0, 0L)
    val touched = plan.flatMap(_._2).sorted
    val bytesIn = plan.map(_._3).sum
    val kmax = plan.map(_._4).max.toInt
    val totalOut = plan.map(_._4).sum.toInt
    withEpochClaim(dir, m.epoch + 1, m.epoch) {
      val tmp = ScopedCommit.newStageDir(dir)
      ScopedCommit.sweepStages(fs, dir)
      val region = evolvedReader(Some(m)).option("basePath", dir.toString)
        .parquet(touched.map(n => s"$dir/$n"): _*)
      // one shuffle sized to the fragmented region: partition columns plus
      // a hash slot spread each partition over ~its byte-optimal count
      // (deterministic under task retry — hash of the data columns, not
      // rand); partitions smaller than kmax slots may split one file finer
      // than optimal, never coarser
      val dataCols = region.columns.filterNot(m.partCols.contains).toSeq
      val staged0 =
        if (kmax <= 1) region.repartition(totalOut, m.partCols.map(col): _*)
        else region.repartition(totalOut,
          m.partCols.map(col) :+ pmod(hash(dataCols.map(col): _*), lit(kmax)): _*)
      staged0.write.mode("overwrite").partitionBy(m.partCols: _*).parquet(tmp.toString)
      val staged = listDataFilesDeep(tmp)
      val epoch = m.epoch + 1
      val renames = staged.map(s => s -> promoteName(s, "c", epoch))
      val touchedSet = touched.toSet
      val newM = m.copy(epoch = epoch,
        base = (m.base.filterNot(touchedSet) ++ renames.map(_._2)).sorted,
        appends = m.appends.map(_.filterNot(touchedSet)).filter(_.nonEmpty))
      ScopedCommit.replay(fs, dir, ScopedCommit.write(fs, dir, renames,
        deletes = Nil, manifest = Some(newM), retires = touched, stage = tmp))
      refreshCatalog(dir)
      PartCompactStats(plan.size, touched.size, staged.size, bytesIn)
    }
  }

  /** The partitioned maintenance decision ([[maintainZordered]]'s sibling
    * for the dt-shaped stores): compact only when some partition actually
    * crossed the file-count trigger — [[compactPartitionsManaged]] itself
    * measures and commits nothing when nothing is fragmented, so this is
    * the same measured-trigger contract with the stats exposed as
    * ran/skipped.
    */
  def maintainPartitionsManaged(rel: String, maxFilesPerPartition: Int,
                                targetBytes: Long = 128L * 1024 * 1024): Option[PartCompactStats] =
    Some(compactPartitionsManaged(rel, targetBytes, maxFilesPerPartition))
      .filter(_.partitionsCompacted > 0)

  /** Whether `rel` is a managed PARTITIONED store (vs curve-clustered or
    * manifest-less) — the routing probe for layout-shaped maintenance.
    */
  private[graft] def isPartitionedStore(rel: String): Boolean =
    LayoutManifest.read(fs, new Path(s"$baseDir/$rel")).exists(_.isPartitioned)

  /** Catalog face for the layout sinks: register a path-addressed
    * clustered/z-ordered/partitioned store as an EXTERNAL parquet table
    * in the session catalog, so pure-SQL consumers (`spark.table`,
    * `FROM t`) reach the same files through the same FileSourceScan —
    * file/row-group/page skipping included (PlanSpec pins the witness on
    * a z-ordered store read via `spark.table`). The catalog entry is
    * metadata indirection only: dropping it never deletes data (external
    * semantics), re-registering points it at the current files, and the
    * write path stays the journaled path-addressed machinery above —
    * exactly the split a lakehouse metastore draws.
    */
  def registerCatalog(table: String, rel: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.catalog.createTable(table, s"$baseDir/$rel", "parquet")
    ()
  }

  /** MANIFEST-driven catalog face: register `view` over the CURRENT
    * epoch's pinned file set ([[readSnapshot]] semantics), so a pure-SQL
    * consumer (`spark.table`, `FROM view`) can never hit the mid-journal
    * listing window a [[registerCatalog]] table can (a listing taken
    * between a journal's rename-in and retire steps sees promoted copies
    * AND originals at once — TimeTravelSpec manufactures exactly that
    * state and pins the difference). Every mutator's commit re-pins the
    * view to the new epoch through [[refreshCatalog]], so the view tracks
    * the table the way a metastore pointer does: readers follow the
    * pointer, never the bucket listing (the reference's DVC pointer-read
    * discipline, `/root/reference/.dvc/config:1-6`, applied to the
    * serving path). Scale shape: the pin is a file LIST in plan metadata —
    * resolution is two directory listings; scans through the view keep
    * full file/row-group/page skipping (PlanSpec pins the witness).
    */
  def registerSnapshotView(view: String, rel: String): Unit = {
    val df = readSnapshot(rel)
    Store.installPin(spark, (Store.sessionKey(spark), view),
      Store.PinnedView(new scala.ref.WeakReference(spark), canonDirKey(rel),
        baseDir, rel, None, new scala.ref.WeakReference(null)), df)
  }

  /** SQL time-travel face: register `view` pinned to manifest `epoch` —
    * the `VERSION AS OF`-shaped access [[readVersion]] gives API
    * consumers, for SQL (`FROM view`). Registration fails loudly on a
    * vacuumed or never-committed epoch, exactly like [[readVersion]]; a
    * LATER vacuum that drops the pinned epoch turns the view into a
    * loud-on-use error (the vacuum's catalog refresh re-pins every
    * registered view — a silently emptying time-travel read would be the
    * worst outcome). Epoch-pinned content never changes, so the re-pin
    * is only ever a re-resolution of the same file set to its current
    * home (live vs retired dir).
    */
  def registerVersionView(view: String, rel: String, epoch: Long): Unit = {
    val df = readVersion(rel, epoch)
    Store.installPin(spark, (Store.sessionKey(spark), view),
      Store.PinnedView(new scala.ref.WeakReference(spark), canonDirKey(rel),
        baseDir, rel, Some(epoch), new scala.ref.WeakReference(null)), df)
  }

  private def canonDirKey(rel: String): String =
    canon(new Path(s"$baseDir/$rel")).toString

  /** Training-export sink: hash-sharded JSONL, the artifact shape LLM
    * trainers consume. Shard assignment is `Sampling.hashUnit` on the key
    * — a pure function of the ROW, so the same corpus lands in the same
    * shard regardless of partition layout, cluster size, or write order
    * (the same leakage-safe determinism contract as x16's splits), and
    * line order within a shard is (hash, key)-sorted, so shard CONTENT is
    * reproducible byte-for-byte. Each shard's rows are repartitioned to
    * one task and written under `__shard=<i>/` — `shards` parallel
    * writers, no `coalesce(1)` bottleneck (S8's single-file CSV is the
    * export-artifact special case; THIS is the scale sink: at 100 TB pick
    * shards ~ corpus_bytes / 1 GB and every executor streams its shards
    * out concurrently).
    */
  def writeJsonl(df: DataFrame, rel: String, shards: Int = 8,
                 key: String = "doc_id"): Unit = {
    val unit = graft.ext.Sampling.hashUnit(col(key), "jsonl")
    // a null key hashes to a null shard, which the partitioned write files
    // under __HIVE_DEFAULT_PARTITION__ — OUTSIDE the 0..shards-1 layout a
    // release consumer enumerates, so the row would ship in no shard while
    // still counting in the card. Loud per-row failure instead.
    val shard = when(col(key).isNotNull, floor(unit * shards).cast("int"))
      .otherwise(raise_error(lit(
        s"writeJsonl: null $key cannot be shard-assigned — drop or key such rows upstream")))
    df.withColumn("__shard", shard)
      .repartition(shards, col("__shard"))
      .sortWithinPartitions(col("__shard"), unit, col(key))
      .write.mode("overwrite").partitionBy("__shard")
      .json(s"$baseDir/$rel")
  }

  def readJsonl(rel: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(s"$baseDir/$rel").drop("__shard")

  /** Dataset release = the shards plus their manifest: [[writeJsonl]]
    * under `rel/data` and the [[graft.ext.Sampling.datasetCard]] under
    * `rel/_card` (single JSON file — the card is a handful of rows by
    * construction). A consumer re-derives the card from the downloaded
    * shards and compares checksums cell-by-cell; StoreSpec proves that
    * round trip — card(read-back shards) == shipped card — byte-level.
    */
  def writeRelease(df: DataFrame, rel: String, shards: Int = 8,
                   key: String = "doc_id", text: String = "text",
                   source: String = "source"): Unit = {
    writeJsonl(df, s"$rel/data", shards, key)
    // The card is derived from the WRITTEN shards, not from df: computing
    // it from the input would re-execute the whole upstream lineage a
    // second time (the release sits at the end of the curation chain) and,
    // worse, any upstream nondeterminism would ship a card that disagrees
    // with the shards — the exact mismatch the consumer checksum protocol
    // exists to catch. Reading back costs one scan of the just-written
    // JSONL and guarantees card == content by construction.
    graft.ext.Sampling.datasetCard(readJsonl(s"$rel/data", df.schema),
        key, text, source)
      .coalesce(1).write.mode("overwrite").json(s"$baseDir/$rel/_card")
  }
}

object Store {

  /** Rows sampled per curve-layout write to place the bucket and file
    * boundaries (see [[Store#zorderStage]]). Deterministic (lowest-k by
    * content hash), bounded driver state — 8192 doubles per z column —
    * and below Spark's topKSortFallbackThreshold (10000) so the sample
    * plans as TakeOrderedAndProject, never a full sort. Env-overridable
    * for cluster runs where finer boundaries are worth a bigger top-k
    * (boundary mass error ~ 1/sqrt(k) per cut, so the default already
    * places cuts within ~1% mass — the replaced approxQuantile sketch's
    * accuracy class).
    */
  private[io] val zSampleSize: Int =
    sys.env.get("SPARK_GRAFT_Z_SAMPLE").map(_.toInt).getOrElse(8192)

  /** For each target partition 0..n-1, an int whose Murmur3 hash (seed
    * 42 — what HashPartitioning evaluates) lands exactly there under
    * `pmod(hash, n)`. Lets a frame with a precomputed partition id ride
    * an ordinary REPARTITION_BY_NUM hash exchange to EXACT partitions —
    * range-partitioned placement without RangePartitioner's sampling
    * pass. A linear probe finds all n salts in O(n log n) expected tries
    * (coupon collector); n is a file count, so this is microseconds.
    */
  private[io] def hashSalts(n: Int): Array[Int] = {
    val salts = new Array[Int](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var v = 0
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; salts(p) = v; remaining -= 1 }
      v += 1
    }
    salts
  }

  /** The staged frame's schema as the manifest's DECLARED schema, with
    * every level forced nullable (optimization round 21: manifests now
    * record the schema at WRITE time, so every later manifest-driven read
    * — COW locates/regions, snapshot/version resolution, the DSv2 catalog
    * face — skips parquet schema inference: at 100 TB inference is a
    * footer read + schema merge over the file listing PER STATEMENT,
    * which is why Delta/Iceberg record schemas in table metadata).
    * All-nullable because the declared schema outlives this batch: a
    * later append may legitimately carry nulls where this frame happened
    * to be non-nullable, and parquet reads under a too-strict
    * non-nullable schema corrupt instead of failing. Nullability is
    * metadata — no declared query's rows change.
    */
  private[io] def nullableType(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullableType(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(nullableType(m.keyType), nullableType(m.valueType), valueContainsNull = true)
      case other => other
    }
  }

  private[io] def nullableSchemaJson(schema: org.apache.spark.sql.types.StructType): String =
    nullableType(schema).asInstanceOf[org.apache.spark.sql.types.StructType].json

  /** The matched half of a [[Store.mergeInto]]: UPDATE SET (values may
    * reference `__t` and `__s`) or DELETE, each optionally gated by an
    * extra condition (SQL's `WHEN MATCHED AND …`).
    */
  sealed trait MergeMatched
  case class MergeUpdate(sets: Map[String, org.apache.spark.sql.Column],
                         cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeMatched
  case class MergeDelete(cond: Option[org.apache.spark.sql.Column] = None)
      extends MergeMatched

  /** Partition-pruning opportunities in a MERGE's ON condition: for each
    * target partition column `pc`, the source-side expression `e` of a
    * top-level conjunct `__t.pc = e` (either operand order), where `e`
    * references ONLY `__s` columns (or is a literal). Such a conjunct
    * bounds every possible match to the source's distinct values of `e` —
    * the match-surface scans may partition-prune to them. Conjuncts under
    * OR/NOT never qualify (only top-level ANDs constrain all matches).
    */
  private[graft] def partitionEqualities(
      on: org.apache.spark.sql.Column,
      partCols: Seq[String]): Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, Literal}
    if (partCols.isEmpty) return Nil
    // two spellings reach here: the SQL router hands a fully-catalyst tree
    // (And/EqualTo), the Column API a pre-analysis one where `&&`/`===`
    // are still UnresolvedFunction("and"/"=") — match both
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case UnresolvedFunction(Seq("and"), Seq(l, r), false, _, _, _, _) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    def equality(e: Expression): Option[(Expression, Expression)] = e match {
      case EqualTo(l, r) => Some((l, r))
      case UnresolvedFunction(Seq("="), Seq(l, r), false, _, _, _, _) => Some((l, r))
      case _ => None
    }
    def targetPart(e: Expression): Option[String] = e match {
      case ua: UnresolvedAttribute
        if ua.nameParts.size == 2 && ua.nameParts.head == "__t" &&
          partCols.contains(ua.nameParts(1)) => Some(ua.nameParts(1))
      case _ => None
    }
    def sourceOnly(e: Expression): Boolean = {
      val refs = e.collect { case ua: UnresolvedAttribute => ua }
      val lits = e.collect { case l: Literal => l }
      (refs.nonEmpty || lits.nonEmpty) &&
        refs.forall(_.nameParts.headOption.contains("__s"))
    }
    conjuncts(org.apache.spark.sql.GraftBridge.toCatalyst(on))
      .flatMap(equality)
      .flatMap { case (l, r) =>
        targetPart(l).filter(_ => sourceOnly(r)).map(_ -> r)
          .orElse(targetPart(r).filter(_ => sourceOnly(l)).map(_ -> l))
      }.distinct
  }

  /** A version/snapshot resolution: the epoch's file set at its current
    * homes (`paths`, aligned 1:1 with the manifest `names`), plus the
    * manifest's partition columns (empty = flat layout). Consumers of a
    * partitioned resolution must anchor their read with `basePath` = the
    * table root so the partition columns reconstruct.
    */
  private[graft] case class ResolvedVersion(paths: Seq[String],
                                            partCols: Seq[String],
                                            names: Seq[String] = Nil,
                                            schema: Option[StructType] = None)

  /** One manifest-pinned temp view's registration: the weak session ref
    * guards against identity-hash reuse after a session dies (and lets a
    * dead session's entries self-drop on the next touch), `viewBase` is
    * the REGISTERING store's base dir so re-pins resolve `rel` exactly as
    * registration did, `epoch` None = track the current epoch, and
    * `installed` identifies the catalog object THIS registry created —
    * a current definition that is not `eq` to it means the user replaced
    * the view, and the registration yields to them.
    */
  private case class PinnedView(session: scala.ref.WeakReference[SparkSession],
                                dirKey: String, viewBase: String, rel: String,
                                epoch: Option[Long],
                                installed: scala.ref.WeakReference[AnyRef],
                                schema: StructType = new StructType())

  /** Create/replace the pinned temp view and record the catalog object it
    * installed (for the user-replacement check on later re-pins) plus the
    * pinned frame's schema — the loud-on-use error view is built with that
    * schema so queries naming real columns still analyze and surface the
    * raise_error cause instead of a misleading UNRESOLVED_COLUMN.
    */
  private def installPin(spark: SparkSession, key: (String, String),
                         pv: PinnedView, df: DataFrame): Unit = {
    df.createOrReplaceTempView(key._2)
    // getRAWTempView: the stored TemporaryViewRelation, a stable object —
    // getTempView would wrap the plan in a FRESH View per call, making
    // every later identity check read as "user replaced it"
    val handle: AnyRef =
      spark.sessionState.catalog.getRawTempView(key._2).getOrElse(null)
    pinnedViews(key) = pv.copy(installed = new scala.ref.WeakReference(handle),
      schema = df.schema)
  }

  /** Manifest-pinned temp views ([[Store.registerSnapshotView]] /
    * [[Store.registerVersionView]]), keyed by (session, view name) so
    * every mutator's catalog refresh can re-pin them. Process-global
    * because Store instances are ephemeral wrappers; temp views live
    * exactly as long as their session, and entries for dead sessions or
    * user-dropped views are removed on the next refresh touch.
    */
  private val pinnedViews =
    new scala.collection.concurrent.TrieMap[(String, String), PinnedView]()

  private def sessionKey(spark: SparkSession): String =
    System.identityHashCode(spark).toString

  /** One-slot lazy cell: the value computes on first use only — a
    * conflict-free mutator never pays for its conflict bookkeeping.
    */
  private[graft] class Lazily[T](body: => T) { lazy val get: T = body }

  /** Optimistic-concurrency driver for CAS-conflicting mutators (Delta's
    * protocol shape): run `body`; on an epoch-CAS conflict
    * (ConcurrentModificationException from [[Store.claimEpoch]] — thrown
    * BEFORE any data motion), re-read the table, verify every commit that
    * landed since this writer last observed the table touched only
    * DISJOINT partitions (`overlap` over the changed files' partition
    * dirs; "" = a flat file changed — always a conflict for partition
    * writers), and re-attempt bounded times with quadratic backoff.
    * Overlapping interlopers — and a conflict that persists past the
    * budget (a crashed writer's frontier claim) — rethrow the original
    * loud error: the caller decides, never a silent last-writer-wins.
    */
  private[graft] def retryDisjointCas(rel: String, dirStr: String,
      fs: org.apache.hadoop.fs.FileSystem,
      overlap: Set[String] => Boolean, attempts: Int = 8)(body: => Unit): Unit = {
    val dir = new Path(dirStr)
    var attempt = 0
    var prev: Option[Set[String]] = None
    while (true) {
      val now: Set[String] =
        LayoutManifest.read(fs, dir).map(_.allFiles.toSet).getOrElse(Set.empty)
      if (attempt > 0) {
        val before = prev.getOrElse(Set.empty)
        val changed = (before diff now) ++ (now diff before)
        val changedParts = changed.map(n =>
          if (n.contains('/')) n.substring(0, n.lastIndexOf('/')) else "")
        if (overlap(changedParts))
          throw new java.util.ConcurrentModificationException(
            s"optimistic retry of $rel abandoned: a concurrent commit touched " +
              s"overlapping partition(s) ${changedParts.mkString(", ")} — " +
              "re-read the table and re-issue the write explicitly")
      }
      prev = Some(now)
      try { body; return }
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > attempts) throw e
          // quadratic backoff with jitter: N conflicted writers behind one
          // in-flight commit must fan out, not re-collide in lockstep
          val d = math.min(2000L, 100L * attempt * attempt)
          Thread.sleep(d / 2 +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(d / 2 + 1))
      }
    }
  }

  /** The column a CSV history is split into day files by. */
  private[io] val DayCol = "graft_day"

  /** The UTC calendar day of timestamp `ts`: whole days of the raw epoch
    * instant (`cast(ts as long)` is timezone-independent), never
    * `to_date`, whose result follows `spark.sql.session.timeZone`. This is
    * the ONE day rule of every day-keyed layout — the CSV histories' day
    * files and the partitioned stores' `dt=` partitions — because a
    * session-zoned day would let a restart under a different TZ map
    * a near-midnight key to a DIFFERENT day than it was stored under: a
    * day-scoped merge would then never read the old day and leave a stale
    * twin, invisible to any key check because the key itself never
    * changed. A string `ts` is parsed as a timestamp first.
    */
  def utcDay(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_add(to_date(lit("1970-01-01")),
      floor(ts.cast("timestamp").cast("long").cast("double") / 86400d).cast("int"))

  /** One day file of a CSV history, `part-<yyyy-MM-dd>-<id>.csv`. The
    * fixed-width day leads the name, so name order is day order. `id`
    * names the write that made the file: a raw day gets a fresh id per
    * write, and an engineered day is named with the id of the raw file it
    * was derived from — the explicit per-day watermark that
    * [[graft.jobs.FeatureEngineeringJob]] reads its candidate days from.
    * Being part of the name, it survives every copy (a `Versioning` pull
    * drops hidden files, so a hidden marker would not).
    */
  final case class DayFile(day: String, id: String) {
    def name: String = s"part-$day-$id.csv"
  }

  object DayFile {
    private val Name = """part-(\d{4}-\d{2}-\d{2})-([0-9a-z]+)\.csv""".r
    def parse(name: String): Option[DayFile] = name match {
      case Name(day, id) => Some(DayFile(day, id))
      case _ => None
    }
  }

  /** The header line (with its line separator) the CSV writer puts atop
    * each file of `schema`: written by the writer's generator, so it is
    * quoted exactly as the writer quotes it.
    */
  private[io] def csvHeader(schema: StructType, timeZone: String): String = {
    val w = new java.io.StringWriter()
    val gen = new org.apache.spark.sql.catalyst.csv.UnivocityGenerator(schema, w,
      new org.apache.spark.sql.catalyst.csv.CSVOptions(Map("header" -> "true"), true, timeZone))
    gen.writeHeaders()
    gen.flush()
    w.toString
  }

  /** A fresh write id for a day file. */
  private[io] def newWriteId(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  /** Names Spark scans skip: dot- and underscore-prefixed. */
  private[io] def hidden(name: String): Boolean = name.startsWith(".") || name.startsWith("_")

  /** Where [[swapOver]] parks a CSV day file it replaces. Dot-prefixed,
    * so Spark scans ignore a crash's leftovers.
    */
  private def parkOf(p: Path): Path = new Path(p.getParent, s".old_${p.getName}")

  /** Park-aside/rename swap of a fully-written staged CSV day file `tmp`
    * into `target` ([[Store.writeCsv]]'s durability discipline; the
    * lakehouse tables commit through the journal instead): `replaced` (the
    * day's current file, if any) parks aside as `.old_<its name>`, `tmp`
    * renames to `target` — which may carry a different name, as a day
    * file whose write id changed does — and the park is deleted. The old
    * file is never deleted first, so a failed swap rolls back with the
    * day intact, and nothing reads and overwrites the same file in one
    * plan. A crash between the renames leaves the old file parked:
    * [[recoverParks]] restores it when no live file holds its day, and
    * deletes the park when the swap completed.
    */
  private[graft] def swapOver(fs: org.apache.hadoop.fs.FileSystem, tmp: Path,
                              target: Path, replaced: Option[Path]): Unit = {
    val parked = replaced.filter(r => fs.rename(r, parkOf(r)))
    // If parking the old file FAILED but it still exists, a swap under a
    // new write id would leave two live files for one day — fail loudly
    // instead; nothing has been destroyed yet.
    replaced.filter(r => parked.isEmpty && fs.exists(r)).foreach { r =>
      throw new IllegalStateException(
        s"could not park $r aside as ${parkOf(r)}; aborting swap with data intact")
    }
    if (!fs.rename(tmp, target)) {
      parked.foreach(r => fs.rename(parkOf(r), r)) // roll back
      throw new IllegalStateException(s"rename $tmp -> $target failed")
    }
    parked.foreach(r => fs.delete(parkOf(r), true))
  }

  /** Finish the day swaps a crash interrupted in CSV history `root`, from
    * `names`, a listing the caller already made: each park (`.old_<name>`)
    * whose day no live day file holds is renamed back — the crash hit
    * between its swap's two renames, and the parked copy is the only one —
    * and every other park is deleted, since its swap completed. A day file
    * is keyed by its day, whatever its write id. Returns the names
    * restored.
    */
  private[graft] def recoverParks(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                                  names: Seq[String]): Seq[String] = {
    def keyOf(name: String) = DayFile.parse(name).map(_.day)
    val held = scala.collection.mutable.Set(names.filterNot(hidden).flatMap(keyOf): _*)
    names.filter(_.startsWith(".old_")).flatMap { park =>
      val name = park.stripPrefix(".old_")
      if (keyOf(name).forall(k => !held.add(k))) {
        fs.delete(new Path(root, park), true)
        None
      } else {
        if (!fs.rename(new Path(root, park), new Path(root, name)))
          throw new IllegalStateException(
            s"crash recovery: could not restore parked ${new Path(root, park)}")
        Some(name)
      }
    }
  }
}

/** Hadoop's raw local file system, setting permissions with a system call.
  * Without native IO, [[org.apache.hadoop.fs.RawLocalFileSystem]] forks a
  * `chmod` process for every file and directory it creates — about 3 ms
  * each, more than writing a CSV day file takes.
  */
private[io] final class NioPermissionFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def setPermission(p: Path, permission: org.apache.hadoop.fs.permission.FsPermission): Unit = {
    import scala.jdk.CollectionConverters._
    val bits = permission.toShort
    // PosixFilePermission lists owner, group, others read/write/execute: bits 8 down to 0
    val perms = java.nio.file.attribute.PosixFilePermission.values.toSeq.zipWithIndex
      .collect { case (pp, i) if (bits & (1 << (8 - i))) != 0 => pp }
    try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
