package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Structural plan guards: the scale claims in PLANS.md as assertions, so
  * a refactor that silently reintroduces a cartesian product, loses a
  * pushed filter, or adds a shuffle fails CI instead of failing at 100 TB.
  * Plans are inspected at sf0.001 — shapes, not timings.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def exchanges(p: String): Int =
    p.linesIterator.count(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("as-of join is a hash join, never a cartesian/nested-loop band join") {
    val p = plan("j2_asof")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("as-of join is single-pass: j2_asof scans events once per input (twice)") {
    // left clicks + right purchase rates; a re-attach join of the full left
    // rows to the matches would scan events a third time
    val p = plan("j2_asof")
    val scans = p.linesIterator.count(l => l.contains("FileScan") && l.contains("events"))
    assert(scans == 2, s"expected 2 scans of events, got $scans:\n$p")
    assert(p.contains("LeftOuter") && p.contains("WindowGroupLimit"), p)
  }

  test("optimizer fences: each pair-verify kernel appears once in its optimized plan") {
    // BoundedJaccard (deterministic = false) and the `spark_partition_id() * 0`
    // terms in the ArrayEqCount/HammingCount columns of ext/Dedup.scala and
    // the cosine columns of ext/SimSearch.scala keep each kernel in ONE
    // Project, with the threshold filter on its attribute. A
    // Spark upgrade whose optimizer sees through a fence would substitute
    // the kernel into the filter or join condition and evaluate it again.
    val kernels = Seq("boundedjaccard", "arrayeqcount", "hammingcount", "floatdotproduct")
    val queries = Seq("x2_dedup_minhash", "x3_dedup_ngram", "x4_dedup_simhash",
      "x5_embed_neardup", "x5b_neardup_cell_recall",
      "x14_dedup_resolve", "x19_decontaminate", "x20_dedup_incremental",
      "x34_dedup_collapse")
    val plans = queries.map(q =>
      q -> graft.SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString).toMap
    // the pair kernel of the embedding joins is floatdotproduct over two
    // DIFFERENT attributes; the per-side norms SQRT(floatdotproduct(e, e))
    // and the centroid dots against literals are not pair kernels
    val pairDot = """floatdotproduct\((\w+#\d+), (\w+#\d+)\)""".r
    def uses(q: String, k: String) =
      if (k == "floatdotproduct")
        pairDot.findAllMatchIn(plans(q)).count(m => m.group(1) != m.group(2))
      else s"\\b$k\\(".r.findAllMatchIn(plans(q)).size
    kernels.foreach(k => assert(queries.exists(uses(_, k) > 0), s"no query uses $k"))
    val wrong = for (q <- queries; k <- kernels if uses(q, k) > 1)
      yield s"$q: $k x${uses(q, k)} in\n" +
        plans(q).linesIterator.filter(_.contains(s"$k(")).mkString("\n")
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("SQL-surface band join is rewritten to a hash join by BandJoinRewrite") {
    // j6_band_sql writes the naive `abs(l - r) <= tol` predicate through
    // spark.sql — without the optimizer rule this can only plan as a
    // BroadcastNestedLoopJoin; with it, the overlap-bucket equi-key makes
    // it a hash join. This is the end-to-end proof the extension closes
    // the SQL-user trap, not just the DataFrame path.
    val p = plan("j6_band_sql")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("constructing j6_band_sql leaves the shared session's optimizer env and views untouched") {
    // j6 builds on spark.newSession(): the rule + events_v view live there,
    // so bench plans can no longer depend on whether j6 ran earlier
    val before = spark.experimental.extraOptimizations
    val hadView = spark.catalog.tableExists("events_v")
    graft.SparkEntry.queries("j6_band_sql")(spark, sf)
    assert(spark.experimental.extraOptimizations == before,
      "j6 mutated the shared session's extraOptimizations")
    assert(spark.catalog.tableExists("events_v") == hadView,
      "j6 leaked its temp view into the shared session")
  }

  test("source classifier: no cartesian beyond bounded broadcasts, argmax uses group-limit") {
    // the xnSources blow-up must ride broadcast nested-loops of BOUNDED
    // dims (sources, 1-row totals) — never a real CartesianProduct — and
    // the per-doc argmax must get Spark's window group-limit pushdown
    val p = plan("x37_source_classify")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("ngram jaccard pairs join on the length bucket, never all-pairs") {
    val p = plan("x3_dedup_ngram")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("boundedjaccard"), p) // the one-node verify kernel (r21)
  }

  test("date filter reaches the parquet scan as a pushed filter") {
    val p = plan("p2_filter_date")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual")
      || p.contains("PushedFilters: [GreaterThanOrEqual"), p)
  }

  test("rollup computes all levels with one Expand and one shuffle") {
    val p = plan("q6_rollup")
    assert(p.linesIterator.count(_.trim.startsWith("+- Expand")) +
      p.linesIterator.count(_.trim.startsWith(":- Expand")) >= 1 || p.contains("Expand"), p)
    assert(exchanges(p) == 1, s"expected 1 shuffle:\n$p")
  }

  test("partitioned-sink scan prunes to the filtered dt= directories") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    // plan-level: the date predicate lands in PartitionFilters (directory
    // enumeration), not just PushedFilters (row-group stats) — at 100 TB
    // this is what keeps a 3-day query from listing 3 years of files
    val p = plan("x46_partition_prune")
    val pf = "PartitionFilters: \\[[^\\]]+\\]".r.findFirstIn(p)
    assert(pf.exists(_.contains("dt")), s"no partition filter on dt:\n$p")
    // execution-level: the filtered scan touches ONLY the 3 selected dt=
    // directories, out of the 30 the fixture writes
    val base = java.nio.file.Files.createTempDirectory("graft-prune-").toString
    new graft.io.Store(spark, base).writePartitioned(
      graft.Tables.events(spark, sf), "events_by_day", tsCol = "ts")
    val all = spark.read.parquet(s"$base/events_by_day")
    assert(all.select("dt").distinct().count() == 30)
    val files = all.where(col("dt").between("2024-01-10", "2024-01-12"))
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    val want = Set("dt=2024-01-10", "dt=2024-01-11", "dt=2024-01-12")
    assert(files.nonEmpty && files.forall(f => want.exists(f.contains)),
      files.mkString("\n"))
  }

  test("brute-force ANN keeps map-side top-k before the shuffle") {
    val p = plan("x6_ann_brute")
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p) // the map-side (partial) group-limit pass
  }

  test("clustered layout concentrates a key range into few files") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    // the x51 witness: range-clustering by user_id gives each of the 8
    // files a non-overlapping key slice, so the 10-of-150 user range must
    // come back from at most 2 files (a range boundary can split one
    // slice) — on an unclustered layout every file would contribute rows.
    // The predicate also reaches the scan (row-group stats skipping).
    val base = java.nio.file.Files.createTempDirectory("graft-cluster-").toString
    new graft.io.Store(spark, base).writeClustered(
      graft.Tables.events(spark, sf), "events_by_user", Seq("user_id"))
    val filtered = spark.read.parquet(s"$base/events_by_user")
      .where(col("user_id").between(40, 49))
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(user_id,40)"), p)
    val touched = filtered.select(input_file_name()).distinct().count()
    val total = spark.read.parquet(s"$base/events_by_user")
      .select(input_file_name()).distinct().count()
    assert(total == 8, s"expected 8 clustered files, got $total")
    assert(touched <= 2, s"range touched $touched of $total files — layout not clustered")
  }

  test("z-ordered layout bounds the touched-file subset for BOTH single-column predicates") {
    import org.apache.spark.sql.functions.{col, input_file_name, lit}
    // the x51b witness: ONE copy of the data, clustered on the
    // interleaved (user_id, ts) curve, must give file-level skipping to a
    // predicate on EITHER column alone — the thing no linear sort can do
    // (x51's user_id-sorted layout scatters ts across every file). Gates
    // at half the filecount leave straddle slack (a range crossing a
    // curve split doubles its subset) while still proving real skipping.
    val base = java.nio.file.Files.createTempDirectory("graft-zorder-").toString
    val store = new graft.io.Store(spark, base)
    val events = graft.Tables.events(spark, sf)
    store.writeZordered(events, "events_z", Seq("user_id", "ts"), files = 16)
    val all = spark.read.parquet(s"$base/events_z")
    val total = all.select(input_file_name()).distinct().count()
    assert(total == 16, s"expected 16 z-ordered files, got $total")
    def touched(df: org.apache.spark.sql.DataFrame) =
      df.select(input_file_name()).distinct().count()
    val userTouched = touched(all.where(col("user_id").between(40, 49)))
    val tsTouched = touched(all.where(
      col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-13").cast("timestamp")))
    assert(userTouched <= 8, s"user_id predicate touched $userTouched of $total z-files")
    assert(tsTouched <= 8, s"ts predicate touched $tsTouched of $total z-files")
    // contrast: the linear user_id layout gives the ts predicate nothing
    store.writeClustered(events, "events_lin", Seq("user_id"), files = 16)
    val linTs = touched(spark.read.parquet(s"$base/events_lin").where(
      col("ts") >= lit("2024-01-10").cast("timestamp") &&
        col("ts") < lit("2024-01-13").cast("timestamp")))
    assert(linTs >= 14, s"linear layout unexpectedly skipped ts files: $linTs of 16")
  }

  test("catalog face: spark.table over the z-ordered store keeps the x51b pruning witness") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    // the x58 witness: registering the layout as an external table must
    // not cost any skipping — the catalog is metadata indirection over
    // the SAME FileSourceScan, so the single-column file subsets and the
    // pushed filter hold exactly as on the path-addressed read.
    val base = java.nio.file.Files.createTempDirectory("graft-cat-z-").toString
    val store = new graft.io.Store(spark, base)
    store.writeZordered(graft.Tables.events(spark, sf), "events_z",
      Seq("user_id", "ts"), files = 16)
    store.registerCatalog("graft_plan_cat_z", "events_z")
    val all = spark.table("graft_plan_cat_z")
    assert(all.select(input_file_name()).distinct().count() == 16)
    val filtered = all.where(col("user_id").between(40, 49))
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(user_id,40)"), p)
    val touched = filtered.select(input_file_name()).distinct().count()
    assert(touched <= 8, s"catalog read touched $touched of 16 z-files — skipping lost")
    // the cached file index must not go stale across mutations: an append
    // must be visible through spark.table, and a scoped rewrite (which
    // DELETES original files) must not crash a later catalog read
    val n0 = spark.table("graft_plan_cat_z").count()
    import org.apache.spark.sql.functions.lit
    store.appendZordered(graft.Tables.events(spark, sf).limit(100)
        .withColumn("event_id", org.apache.spark.sql.functions.col("event_id") + 10000000L),
      "events_z", Seq("user_id", "ts"), files = 2)
    assert(spark.table("graft_plan_cat_z").count() == n0 + 100,
      "catalog read missed appended rows — stale file index")
    store.scopedRecluster("events_z")
    assert(spark.table("graft_plan_cat_z").count() == n0 + 100,
      "catalog read broken after scoped rewrite — stale file index")
    spark.sql("DROP TABLE graft_plan_cat_z") // external: metadata only
    assert(spark.read.parquet(s"$base/events_z").count() > 0,
      "dropping the catalog entry must not delete data")
  }

  test("manifest-pinned snapshot view: pruning survives the view; mutators re-pin it") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    // the x58b witness: the manifest-driven view is a file-LIST pin, not a
    // different scan path — the same FileSourceScan plans under it, so
    // pushed filters and the z-layout's file subsets hold exactly as on
    // the listing-based read
    val base = java.nio.file.Files.createTempDirectory("graft-snapview-").toString
    val store = new graft.io.Store(spark, base)
    store.writeZordered(graft.Tables.events(spark, sf), "events_z",
      Seq("user_id", "ts"), files = 16)
    store.registerSnapshotView("graft_plan_snap_v", "events_z")
    val all = spark.table("graft_plan_snap_v")
    assert(all.select(input_file_name()).distinct().count() == 16)
    val filtered = all.where(col("user_id").between(40, 49))
    val p = filtered.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(user_id,40)"), p)
    val touched = filtered.select(input_file_name()).distinct().count()
    assert(touched <= 8, s"snapshot view touched $touched of 16 z-files — skipping lost")
    // every mutator commit re-pins the view: appends become visible, a
    // scoped rewrite (which RETIRES originals) never breaks a later read
    val n0 = spark.table("graft_plan_snap_v").count()
    store.appendZordered(graft.Tables.events(spark, sf).limit(100)
        .withColumn("event_id", col("event_id") + 20000000L),
      "events_z", Seq("user_id", "ts"), files = 2)
    assert(spark.table("graft_plan_snap_v").count() == n0 + 100,
      "snapshot view missed appended rows — re-pin failed")
    store.scopedRecluster("events_z")
    assert(spark.table("graft_plan_snap_v").count() == n0 + 100,
      "snapshot view broken after scoped rewrite")
    spark.catalog.dropTempView("graft_plan_snap_v")
  }

  test("snapshot diff is one keyed full-outer join, never all-pairs") {
    val p = plan("x49_snapshot_diff")
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("scd2 history is one exchange: change-point lag and interval lead share the key sort") {
    // the filter between the two windows keeps distribution AND order, so
    // a second Exchange (or a second Sort) here means the planner stopped
    // reusing the (key, ts, id) sort — the operator's whole scale claim
    val p = plan("x52_scd2_history")
    assert(exchanges(p) == 1, p)
    assert(p.linesIterator.count(_.trim.startsWith("+- Sort")) <= 1, p)
  }

  test("rolling features shuffle once; the two frames differ only in sort") {
    val p = plan("x53_rolling_features")
    assert(exchanges(p) == 1, p)
  }

  test("pq index build is map-only: one scan, zero exchanges") {
    // the 100-TB claim for x47 is literally "a single scan+write": any
    // Exchange appearing here means the encode stopped being map-side
    val p = plan("x47_pq_codes")
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    assert(!p.contains("Exchange"), p)
  }

  test("pq ADC serving keeps map-side top-k; floats only touch the bounded re-rank") {
    val p = plan("x47b_pq_recall")
    assert(p.contains("WindowGroupLimit"), p) // ADC survivor cut before any shuffle
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pq serving query: broadcast-LUT ADC scan, map-side survivor cut, no cartesian") {
    // x47c is the default-surface witness for the serving path: the code
    // scan must meet the per-query LUTs through a BROADCAST (the LUT side
    // is queries-sized, the codes side is the corpus — broadcasting the
    // other way, or planning a CartesianProduct, is the 100-TB failure),
    // candidates must score on the codegen'd ADC expression (never float
    // vectors), and the survivor cut must run map-side (WindowGroupLimit)
    val p = plan("x47c_pq_serve")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(p.contains("pqadcscore"), p)
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("point-in-time join: keyed on user_id with interval residual, never a cartesian") {
    // the interval predicate (valid_from <= ts < valid_to) must ride a
    // keyed join as residual conditions — without the user_id equality
    // conjunct this whole family degenerates to a nested-loop band join
    val p = plan("x52b_point_in_time")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"), p)
  }

  test("weighted sample is a per-task top-n, never a global sort") {
    // E-S selection must plan as TakeOrderedAndProject: each task keeps
    // its local top-n and one n-row reduction finishes — a global Sort
    // before the limit would shuffle the whole corpus to rank 100 rows
    val p = plan("x54_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l => l.trim.startsWith("Sort ")), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("weighted per-group cap: rank filter runs as a map-side group limit") {
    // same contract as the uniform source cap (x41): rk <= n must plan a
    // WindowGroupLimit before the exchange so a dominant domain ships at
    // most n rows per input task, never its full row set
    val p = plan("x54b_weighted_cap")
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("resample: tick reduction partial-aggs map-side; spine is generated, not stored") {
    // the raw events must collapse to one row per (key, tick) BEFORE the
    // exchange (partial struct-max + count — map-side combine), and the
    // grid must come from an exploded sequence over the one-row-per-key
    // bounds frame, not a materialized calendar join
    val p = plan("x56_resample_ffill")
    assert(p.contains("partial_max") && p.contains("partial_count"), p)
    assert(p.contains("Generate explode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("quantile audit: mergeable sketch partial-aggs; sketch broadcasts back") {
    // percentile_approx must fold task-side (partial_percentile_approx
    // before the exchange — the sketch, not the values, rides the
    // shuffle), and the one-row-per-group sketch frame must meet the
    // data through a broadcast, never a shuffled join
    val p = plan("x55_quantile_audit")
    assert(p.contains("partial_percentile_approx"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("lsh ANN never scans the corpus twice") {
    val p = plan("x7_ann_lsh")
    // one corpus scan + one (broadcast) query scan of the same file
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dedup: both tiers are keyed joins, never all-pairs") {
    val p = plan("x20_dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("boundedjaccard"), p) // near tier's one-node verify kernel (r21)
  }

  test("sequence packing is one shuffle into parallel bucket windows") {
    val p = plan("x21_pack_sequences")
    // the ONLY exchange is the hash partitioning by bucket feeding the
    // window sort — no global single-partition sort anywhere
    assert(exchanges(p) == 1, s"expected 1 shuffle:\n$p")
    assert(p.contains("hashpartitioning(bucket"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("quantized serving: keyed joins only, candidate scoring on the int8 expression") {
    val e = graft.Tables.embeddings(spark, sf)
    val q = e.where(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id").as("q_id"),
        org.apache.spark.sql.functions.col("embedding").as("q_vec"))
    val p = graft.ext.SimSearch.quantizedTopK(q, e, k = 3)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("int8dotproduct"), p) // candidate stage scores on codes
  }

  test("cell-blocked near-dup: equi-join on cell, no cartesian, no assignment window") {
    val e = graft.Tables.embeddings(spark, sf)
    val p = graft.ext.SimSearch.nearDupPairsByCell(e, minCos = 0.25)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // cell assignment is map-side expressions — no Window operator anywhere
    assert(!p.contains("Window"), p)
  }

  test("token-budget mixing: broadcast totals, no window, one tiny shuffle") {
    val p = plan("x23_token_budget_mix")
    // the only exchange is the per-source totals aggregate (rows = strata);
    // decisions are a map-side filter after a broadcast join
    assert(exchanges(p) == 1, s"expected 1 shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
  }

  test("span dedup: keyed count + semi-join on span hashes, no all-pairs, no window") {
    val p = plan("x29_span_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-doc positions aggregate is map-side combined (partial), and
    // the coverage mask is per-row expressions — no Window operator
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
  }

  test("temperature mixing: broadcast rate, no window, map-side decisions") {
    val p = plan("x31_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("span decontamination: hash-keyed semi-join vs the eval span set, no all-pairs") {
    val p = plan("x19b_span_decontaminate")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("Window"), p)
  }

  test("component collapse: canonical pick is a partial-agg'd groupBy, no window") {
    val p = plan("x34_dedup_collapse")
    // the max_by arg-max must ride the aggregate (map-side combinable),
    // not a per-component window/sort
    assert(p.contains("partial_"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("lexical diversity is computed without any shuffle or token explode") {
    val p = plan("x30b_lexical_diversity")
    assert(exchanges(p) == 0, s"expected 0 shuffles:\n$p")
    assert(!p.contains("Generate"), p) // no explode — the fold is per-row
  }

  test("source cap: rank filter runs as a map-side group limit before the shuffle") {
    val p = plan("x41_source_cap")
    assert(p.contains("WindowGroupLimit"), s"expected map-side top-cap:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("frequent spans: cms prefilter on the scan side, keyed join-back, no cartesian") {
    val p = plan("x40_frequent_spans")
    assert(p.contains("cms_estimate"), p) // the map-only sketch probe survived planning
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("boilerplate removal: keyed joins only, no window; probe stage keeps the cms filter") {
    // the final plan reads the CANDIDATE stream from its lazy checkpoint
    // (one materialization for both consumers), so the cms probe lives in
    // the candidate stage's own plan, not the final one — assert both
    val p = plan("x43_boilerplate_removal")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // coverage mask + rebuild are per-row array expressions, never a Window
    assert(!p.contains("Window"), p)
    val docs = graft.Tables.documents(spark, sf)
    val candPlan = graft.ext.TextStats.boilerplateCandidates(docs, k = 3, minDocs = 5)
      .queryExecution.executedPlan.toString
    assert(candPlan.contains("cms_estimate"), s"probe stage lost the sketch filter:\n$candPlan")
  }

  test("upsampling: broadcast totals, no window, fan-out is a map-side explode") {
    val p = plan("x44_upsample_epochs")
    // same shape contract as x23: the only exchange is the totals agg
    assert(exchanges(p) == 1, s"expected 1 shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("Generate"), s"epoch fan-out should be an explode:\n$p")
  }

  test("ep2 composition: pruned 1-column scan, 1-row broadcast stats, no extra shuffles") {
    // The whole raw->engineered chain must stay shallow: the distinct-
    // hours build (one shuffle), and on the z-scale fit side the SAME
    // distinct subtree plus the one-row stats partial->final pair (two
    // more) — the fit-side distinct is a canonical duplicate of the data
    // side's, which AQE's ReuseExchange collapses at runtime, so three
    // static exchanges is the contract. The stats row must attach by
    // BROADCAST (never a re-shuffle of the data side), and the scan must
    // read only `ts` (at 100 TB the feature chain touches one column of
    // the source, not the table).
    val p = plan("ep2_engineered_parity")
    assert(exchanges(p) <= 3, s"expected <=3 non-broadcast shuffles:\n$p")
    assert(p.contains("BroadcastExchange"), s"stats row should broadcast:\n$p")
    assert(!p.contains("Window"), s"fit must be an agg, not a global window:\n$p")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty && reads.forall(_.contains("struct<ts:")),
      s"scan should be pruned to ts only:\n${reads.mkString("\n")}")
  }

  test("bloom dedup probe is map-only: no join, no shuffle, constant sketch") {
    // the corpus bloom is built by a separate (partial-agg'd) job inside
    // bloomDedup; the PROBE frame the query returns must then plan as
    // scan + codegen'd might_contain predicate — no join node and no
    // exchange anywhere, the whole point of the sketch path
    val p = plan("x39_dedup_bloom")
    assert(p.contains("might_contain"), p)
    assert(!p.toLowerCase.contains("join"), s"probe should not join:\n$p")
    assert(exchanges(p) == 0, s"expected 0 shuffles:\n$p")
  }
}
