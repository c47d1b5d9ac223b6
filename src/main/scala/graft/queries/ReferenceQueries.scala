package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsofJoin, Features, Scaling, Skew, Upsert}

/** One declared query per reference operator (SURVEY.md §2), expressed over
  * the driver's fixture tables, each paired with DuckDB oracle SQL.
  *
  * Determinism rules (the driver hash-compares values after sorting columns
  * by name):
  *   - computed integer columns are cast to BIGINT on the Spark side (DuckDB
  *     integer functions return BIGINT);
  *   - every floating-point aggregate/derivation is ROUNDed identically on
  *     both sides so cross-engine summation-order ulps can't flip the hash;
  *   - window orderings carry a unique tie-break column;
  *   - `events.ts` is nanosecond-precision parquet: Spark truncates to
  *     microseconds on read, so the oracle SQL always goes through
  *     `CAST(ts AS TIMESTAMP)` (microseconds) before comparing/ordering.
  */
object ReferenceQueries {

  type Q = (SparkSession, String) => DataFrame

  def queries: Map[String, Q] = Map(
    // ---- A* aggregations --------------------------------------------------
    "q1_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("n"))
    }),
    "a1_nullcount" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val aggs = e.columns.toSeq.map(c => (count(lit(1)) - count(col(c))).as(s"null_$c"))
      e.agg(aggs.head, aggs.tail: _*)
    }),
    "a2_minmax" -> ((s, dir) => {
      Tables.orders(s, dir).agg(
        min("o_orderdate").as("min_date"),
        max("o_orderdate").as("max_date"),
        count(lit(1)).as("n"))
    }),
    "a3_count" -> ((s, dir) => {
      Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("n_users"))
    }),
    "a5_salted_count" -> ((s, dir) => {
      // skew-safe two-phase aggregation: identical result to a plain
      // groupBy/count, but hot keys fan out over 16 reducers first
      Skew.saltedCount(Tables.events(s, dir), Seq("event_type"),
        salts = 16, saltBy = Seq("event_id"))
    }),
    "a4_scale" -> ((s, dir) => {
      // sklearn-parity z-score (stddev_pop, fillna(0), zero-var -> 1.0); the
      // fit is a broadcast one-row cross join, not a global window (§7 scale).
      val scaled = Scaling.zscore(Tables.lineitem(s, dir), Seq("l_quantity", "l_extendedprice"))
      scaled.select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("scaled_l_quantity"), 6).as("z_qty"),
        round(col("scaled_l_extendedprice"), 6).as("z_price"))
    }),

    // ---- P* projections & filters ----------------------------------------
    "p1_project" -> ((s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_linenumber", "l_extendedprice")),
    "p2_filter_date" -> ((s, dir) => {
      Tables.orders(s, dir)
        .where(to_date(col("o_orderdate")).between(lit("1997-01-01"), lit("1997-01-31")))
        .select(col("o_orderkey"), col("o_custkey"), date_trunc("day", col("o_orderdate")).as("o_day"))
    }),
    "p3_filter_minute" -> ((s, dir) => {
      Tables.events(s, dir)
        .where(minute(col("ts")) === 0)
        .select(col("event_id"), hour(col("ts")).cast("long").as("h"))
    }),
    "p4_isin" -> ((s, dir) => {
      Tables.part(s, dir)
        .where(col("p_brand").isin("Brand#1", "Brand#13", "Brand#20"))
        .select("p_partkey", "p_brand", "p_size")
    }),
    "p5_contains" -> ((s, dir) => {
      Tables.orders(s, dir)
        .where(col("o_orderpriority").contains("HIGH"))
        .select("o_orderkey", "o_orderpriority")
    }),
    "p6_notnull" -> ((s, dir) => {
      Tables.events(s, dir)
        .where(col("props").isNotNull && get_json_object(col("props"), "$.k").isNotNull)
        .select("event_id", "event_type")
    }),

    // ---- J* joins ---------------------------------------------------------
    "j1_outer" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(round(sum("value"), 2).as("click_sum"))
      val errors = e.where(col("event_type") === "error")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n_err"))
      clicks.join(errors, Seq("h"), "outer")
    }),
    "j2_asof" -> ((s, dir) => {
      // Reference J2 (`raw_data.py:223-229`): nearest-within-tolerance as-of
      // join onto a half-hourly rate series; tolerance 15 min, earlier row
      // wins ties. Bucketed equi-join implementation — no cartesian product.
      val e = Tables.events(s, dir)
      val rates = e.where(col("event_type") === "purchase")
        .groupBy(window(col("ts"), "30 minutes").getField("start").as("t"))
        .agg(round(sum("value"), 2).as("rate"))
      val left = e.where(col("event_type") === "click")
        .select(col("event_id"), col("ts").as("t"))
      AsofJoin.nearest(left, rates, "t", 900L, Seq("event_id"))
        .select("event_id", "rate")
    }),
    "j2b_asof_backward" -> ((s, dir) => {
      // direction variant: latest rate AT OR BEFORE each event, within 30 min
      val e = Tables.events(s, dir)
      val rates = e.where(col("event_type") === "purchase")
        .groupBy(window(col("ts"), "30 minutes").getField("start").as("t"))
        .agg(round(sum("value"), 2).as("rate"))
      val left = e.where(col("event_type") === "signup")
        .select(col("event_id"), col("ts").as("t"))
      AsofJoin.backward(left, rates, "t", 1800L, Seq("event_id"))
        .select("event_id", "rate")
    }),
    "j3_cross" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val stats = li.agg(avg("l_extendedprice").as("avg_price"))
      li.crossJoin(broadcast(stats))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") / col("avg_price"), 6).as("price_ratio"))
    }),
    "j4_anti" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).where(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }),
    "j5_union" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val hi = o.where(col("o_totalprice") > 300000)
        .select(col("o_orderkey"), col("o_orderstatus"), lit("high").as("bucket"))
      val lo = o.where(col("o_totalprice") < 10000)
        .select(col("o_orderkey"), col("o_orderstatus"), lit("low").as("bucket"))
      hi.unionByName(lo)
    }),
    // The naive SQL band join a user would actually write — no equi-key, so
    // stock Catalyst can only plan BroadcastNestedLoopJoin (O(|L|*|R|)).
    // With GraftExtensions registered, plans.BandJoinRewrite turns it into
    // the overlap-bucket hash join end-to-end: this query proves the
    // optimizer rule under the SQL surface, oracle-checked (the rewrite
    // keeps the original predicate, so results are exact).
    // Built on an ISOLATED child session (`newSession()`: own SQL conf,
    // temp views, and experimental optimizations; shared SparkContext and
    // catalog cache) so constructing this query never mutates the caller's
    // optimizer environment or view namespace — previously the lazy
    // register() made every LATER query's planning depend on whether j6
    // had run first (round-9 verdict item 5). Bench/Verify may still
    // register the extensions up front on their own session; that and this
    // are now independent.
    "j6_band_sql" -> ((s, dir) => {
      val iso = s.newSession()
      graft.GraftExtensions.register(iso)
      Tables.events(iso, dir).createOrReplaceTempView("events_v")
      iso.sql(
        """WITH a AS (SELECT event_id, value FROM events_v WHERE event_id % 97 = 0),
          |     b AS (SELECT event_id, value FROM events_v WHERE event_id % 89 = 1)
          |SELECT a.event_id AS l_id, b.event_id AS r_id,
          |       a.value AS l_value, b.value AS r_value
          |FROM a JOIN b ON abs(a.value - b.value) <= 1.0""".stripMargin)
    }),

    // ---- D* dedup / upsert / sort -----------------------------------------
    "d1_upsert_newest" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val existing = e.select("event_id", "user_id", "value")
      val incoming = e.where(col("event_id") % 3 === 0)
        .select(col("event_id"), col("user_id"), round(col("value") * 2, 2).as("value"))
      Upsert.keepNewest(existing, incoming, Seq("event_id"))
    }),
    "d2_dedup_first" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val existing = e.select("event_id", "user_id", "value")
      val incoming = e.where(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), round(col("value") * 3, 2).as("value"))
      Upsert.keepFirst(existing, incoming, Seq("event_id"))
    }),
    "d3_sort_limit" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select("o_orderkey", "o_totalprice")),

    // ---- S4 pivot ----------------------------------------------------------
    "s4_pivot" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(round(sum("value"), 2))
    }),

    // ---- F* feature derivations -------------------------------------------
    "f1_temporal" -> ((s, dir) => {
      Features.withTemporal(Tables.events(s, dir), "ts").select(
        col("event_id"),
        col("hour").cast("long").as("hour"),
        col("day_of_week").cast("long").as("day_of_week"),
        col("month").cast("long").as("month"),
        col("day_of_month").cast("long").as("day_of_month"),
        col("week_of_year").cast("long").as("week_of_year"),
        col("is_weekend").cast("long").as("is_weekend"),
        col("is_peak_hour").cast("long").as("is_peak_hour"),
        col("is_night").cast("long").as("is_night"))
    }),
    "f2_cyclical" -> ((s, dir) => {
      // `+ 0.0` normalizes IEEE negative zero: Spark's round() goes through
      // BigDecimal (no -0.0) while DuckDB's ROUND preserves the sign bit, so
      // cos(3*pi/2) ~ -1.8e-16 rounds to 0.0 vs -0.0 and the hashes diverge.
      // -0.0 + 0.0 == +0.0 on both engines (the oracle SQL does the same).
      Features.withTemporal(Tables.events(s, dir), "ts").select(
        col("event_id"),
        (round(col("hour_sin"), 6) + lit(0.0)).as("hour_sin"),
        (round(col("hour_cos"), 6) + lit(0.0)).as("hour_cos"),
        (round(col("month_sin"), 6) + lit(0.0)).as("month_sin"),
        (round(col("month_cos"), 6) + lit(0.0)).as("month_cos"))
    }),
    "f3_interaction" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        round(Features.clipLower0(lit(18.0) - col("value")), 4).as("heating_demand"),
        round(Features.clipLower0(col("value") - lit(22.0)), 4).as("cooling_demand"),
        round(col("value") / (col("user_id") + lit(1e-6)), 4).as("value_per_user"))
    }),
    "f4_log" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        round(log1p(coalesce(col("value"), lit(0.0))), 6).as("log_value"))
    }),

    // ---- multi-way join through the SQL surface ---------------------------
    "q2_join_chain" -> ((s, dir) => {
      // 5-way star join through spark.sql over temp views — the same ANSI
      // text runs on both engines; Catalyst picks broadcast joins for the
      // small dimensions
      Seq("region", "nation", "customer", "orders", "lineitem")
        .foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t))
      s.sql(
        """SELECT r_name, n_name, COUNT(*) AS n_items,
          |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM region
          |JOIN nation ON n_regionkey = r_regionkey
          |JOIN customer ON c_nationkey = n_nationkey
          |JOIN orders ON o_custkey = c_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE o_orderstatus = 'F'
          |GROUP BY r_name, n_name""".stripMargin)
    }),
    // Conditional aggregation (TPC-H Q12 shape): pivoted CASE counts per
    // group — one partial-agg'd shuffle, CASE evaluated map-side.
    "q4_conditional_agg" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("n_high_disc"),
          sum(when(col("l_discount") <= 0.05, 1L).otherwise(0L)).as("n_low_disc"),
          round(sum(when(col("l_tax") > 0.04, col("l_extendedprice")).otherwise(lit(0.0))), 2)
            .as("taxed_price"))
    }),
    // Revenue-share ratio (TPC-H Q14 shape): broadcast dimension join +
    // two conditional sums combined into one ratio. ROUND(SUM(..)/SUM(..))
    // is cross-engine safe here because both operands are exact sums
    // evaluated in the same order on both engines at 2-decimal inputs —
    // and the oracle text is shared verbatim.
    "q5_promo_share" -> ((s, dir) => {
      Seq("part", "lineitem").foreach(t => Tables.load(s, dir, t).createOrReplaceTempView(t))
      s.sql(
        """SELECT p_brand,
          |  COUNT(*) AS n_items,
          |  ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'STANDARD%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
          |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand""".stripMargin)
    }),
    // Hierarchical totals in ONE pass: ROLLUP expands to grouping sets
    // inside a single Expand + partial-agg'd HashAggregate — no
    // self-union, no extra scan per level.
    "q6_rollup" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
          col("n"), col("sum_qty"))
    }),
    // Unpivot (wide -> long): Spark's melt/unpivot operator; DuckDB
    // replays it with UNPIVOT. Map-side row expansion, no shuffle.
    "p9_unpivot" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          variableColumnName = "measure", valueColumnName = "val")
        // DuckDB's UNPIVOT excludes NULL measures and has no INCLUDE NULLS
        // escape; the declared melt pins that shared semantics explicitly
        // rather than depending on the fixture staying null-free
        .where(col("val").isNotNull)
        .withColumn("l_linenumber", col("l_linenumber").cast("long"))
    }),
    // HLL sketch gate: approx_count_distinct must land within 5% of the
    // exact distinct count — the oracle recomputes the exact side and
    // asserts the bit, so an HLL accuracy regression reds this row.
    "a7_approx_distinct" -> ((s, dir) => {
      Tables.lineitem(s, dir).agg(
        countDistinct(col("l_partkey")).as("exact_nd"),
        approx_count_distinct(col("l_partkey")).as("approx_nd"))
        .select(col("exact_nd"),
          (abs(col("approx_nd") - col("exact_nd")).cast("double") / col("exact_nd") <= 0.05)
            .cast("long").as("approx_ok"))
    }),
    "q3_topn_per_group" -> ((s, dir) => {
      // top-3 orders per customer by price (WindowGroupLimit path)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    }),

    // ---- JSON extraction ---------------------------------------------------
    "json1_extract" -> ((s, dir) => {
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    }),

    // ---- Window functions --------------------------------------------------
    "w1_window" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cum_value",
          round(sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .select("event_id", "user_id", "rn", "cum_value")
    }),
    // Batch sessionization: a session breaks after a >30 min gap; session id =
    // running count of breaks. Tied timestamps are safe: both engines use
    // the RANGE-to-current-row default frame, so peer rows share the
    // running sum, and a tie's gap is 0 regardless of intra-tie order.
    "w2_sessionize" -> ((s, dir) =>
      graft.operators.Sessionize.sessions(Tables.events(s, dir),
        "user_id", "ts", gapSeconds = 1800L)),
    // The skew-safe two-phase sessionizer, declared against the SAME
    // oracle as w2 (semantics are identical by construction; the property
    // spec proves it on random data, this row proves it cross-engine on
    // the fixture). 6-hour buckets make real session stitching happen at
    // sf0.01+ instead of degenerating to one bucket per key.
    "w2b_sessionize_skewsafe" -> ((s, dir) =>
      graft.operators.Sessionize.sessionsSkewSafe(Tables.events(s, dir),
        "user_id", "ts", gapSeconds = 1800L, bucketSeconds = 21600L)),
    // ---- streaming surface, batch-materialized (§2.9) ----------------------
    // The EventStreams operators run the SAME plan on batch and streaming
    // frames (StreamingSpec asserts batch identity); these declared rows
    // close the loop by oracle-checking the batch face in DuckDB, so the
    // streaming surface is no longer spec-only. st1 reads the exact sum
    // surface (see hourlyAggregate's scaladoc on avg's boundary hazard).
    "st1_stream_hourly" -> ((s, dir) =>
      graft.streaming.EventStreams.hourlyAggregate(Tables.events(s, dir))
        .select("hour", "event_type", "n", "sum_value")),
    // stream-stream interval join on its batch face: clicks paired with
    // the same user's purchases within ±30 min — the watermark is a no-op
    // on batch input, the time-range conjunct is the join semantics
    "st2_stream_interval_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select(col("event_id").as("l_id"), col("user_id").as("l_user"),
          col("ts").as("l_ts"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
          col("ts").as("r_ts"), col("value").as("r_value"))
      graft.streaming.EventStreams.intervalJoin(clicks, purchases,
        "l_user", "r_user", "l_ts", "r_ts", 1800L, 1800L)
        .select("l_id", "r_id", "r_value")
    }),
    // The streaming SKETCH-probe face (EventStreams.dedupAgainstCorpusSketch
    // — x39's bloom verdict as an unbounded-feed operator), batch-
    // materialized like st1/st2: a re-crawl feed of the fresh mod-7 slice
    // plus id-shifted copies of the mod-5-not-mod-7 docs probes a Bloom
    // sketch of the corpus (mod-7 != 0); survivors are the mod-7 docs, the
    // copies drop as corpus duplicates. The copy set deliberately EXCLUDES
    // mod-35 docs (x39's within-batch duplicates): the stream face also
    // dedups within the feed — since r12 the batch face keeps the
    // EARLIEST row per key deterministically (dropDupFeed), so exclusion
    // is no longer load-bearing for determinism; it keeps the oracle's
    // NOT-IN replay free of a survivor-selection clause. At the 1e-8 fpp default the sketch verdict is
    // value-identical to exact membership at oracle scale (x39b bounds the
    // fp budget every round), so DuckDB replays the probe as exact NOT IN.
    // StreamingSpec additionally pins row-identity to x39's keep decisions.
    "st3_stream_bloom_probe" -> ((s, dir) => {
      val docs = graft.Tables.documents(s, dir)
      val incoming = docs.where(col("doc_id") % 7 === 0).select("doc_id", "text")
        .unionByName(docs
          .where(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        .withColumn("ts", timestamp_seconds(col("doc_id")))
      val bloom = graft.ext.Dedup.corpusBloom(docs.where(col("doc_id") % 7 =!= 0))
      graft.streaming.EventStreams.dedupAgainstCorpusSketch(incoming, bloom)
        .select("doc_id")
    }),
    // The streaming as-of enrichment (EventStreams.asofEnrich — J2's
    // merge_asof as a watermarked stream-static join + min-struct pick,
    // because row_number windows don't exist on streams) on its batch
    // face: same feed and rate series as j2_asof, same oracle SQL —
    // StreamingSpec pins closed-window identity with AsofJoin.nearest on
    // a real stream.
    "st4_stream_asof" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val rates = e.where(col("event_type") === "purchase")
        .groupBy(window(col("ts"), "30 minutes").getField("start").as("t"))
        .agg(round(sum("value"), 2).as("rate"))
      val left = e.where(col("event_type") === "click")
        .select(col("event_id"), col("ts").as("t"))
      graft.streaming.EventStreams.asofEnrich(left, rates, "t", 900L,
          Seq("event_id", "t"))
        .select("event_id", "rate")
    }),

    // ---- EP2 pipeline-composition parity -----------------------------------
    // The full raw->engineered derivation chain of FeatureEngineeringJob
    // .engineer — temporal (weekday Mon=0, data_engineering.py:34), cyclical
    // encodings, interactions with the null-preserving clip, log1p
    // transforms, and the sklearn-parity z-scale (stddev_pop, fillna(0),
    // zero-var -> 1, data_engineering.py:81-97) — executed through the REAL
    // job code path (engineer(), not a re-derivation) on a synthetic
    // raw-schema frame both engines build identically from `events`: one row
    // per distinct hour, every value column a deterministic function of the
    // hour key, with NULL slices (h%17/h%19/h%23) exercising the clip-null
    // and fillna branches. f1-f4/a4 pin the stage operators individually;
    // this pins their COMPOSITION (column threading, fit scope, projection
    // order) — the last spec-only pipeline face, now oracle-checked.
    // Output aliases sanitize the reference's %/£ names for the comparator.
    "ep2_engineered_parity" -> ((s, dir) => {
      val hours = Tables.events(s, dir)
        .select(date_trunc("hour", col("ts")).as("datetime")).distinct()
      val h = hour(col("datetime")) + dayofmonth(col("datetime")) * 24 +
        month(col("datetime")) * 700
      def md(k: Int): Column = (h % k).cast("double")
      val raw = hours
        .withColumn("temperature_C",
          when(h % 17 === 0, lit(null).cast("double")).otherwise(md(30) - 5.5))
        .withColumn("humidity_%", lit(40.0) + md(55))
        .withColumn("wind_speed_mps", md(13) * 0.7)
        .withColumn("cloud_cover_%", md(101))
        .withColumn("solar_radiation_Wm2", md(500))
        .withColumn("pm10", md(80) * 0.5)
        .withColumn("pm2_5", md(60) * 0.25)
        .withColumn("co", md(300))
        .withColumn("no2", md(90) * 0.5)
        .withColumn("so2", md(40) * 0.25)
        .withColumn("o3", md(120) * 0.5)
        .withColumn("aqi_us", md(200))
        .withColumn("carbon_intensity_actual",
          when(h % 19 === 0, lit(null).cast("double")).otherwise(md(250)))
        .withColumn("carbon_intensity_forecast", md(240))
        .withColumn("carbon_index",
          when(h % 3 === 0, "low").when(h % 3 === 1, "moderate").otherwise("high"))
        .withColumn("uk_gen_biomass_%", md(10))
        .withColumn("uk_gen_imports_%", md(15))
        .withColumn("uk_gen_gas_%", md(45))
        .withColumn("uk_gen_nuclear_%", md(20))
        .withColumn("uk_gen_solar_%", md(25))
        .withColumn("uk_gen_wind_%", md(50))
        .withColumn("retail_price_£_per_kWh",
          when(h % 23 === 0, lit(null).cast("double")).otherwise(md(35) * 0.01))
      val eng = graft.jobs.FeatureEngineeringJob.engineer(raw)
      eng.select(
        col("datetime"),
        col("hour").cast("long").as("hour"),
        col("day_of_week").cast("long").as("day_of_week"),
        col("month").cast("long").as("month"),
        col("day_of_month").cast("long").as("day_of_month"),
        col("week_of_year").cast("long").as("week_of_year"),
        col("is_weekend").cast("long").as("is_weekend"),
        col("is_peak_hour").cast("long").as("is_peak_hour"),
        col("is_night").cast("long").as("is_night"),
        (round(col("hour_sin"), 6) + lit(0.0)).as("hour_sin"),
        (round(col("hour_cos"), 6) + lit(0.0)).as("hour_cos"),
        (round(col("month_sin"), 6) + lit(0.0)).as("month_sin"),
        (round(col("month_cos"), 6) + lit(0.0)).as("month_cos"),
        round(col("renewable_pct"), 2).as("renewable_pct"),
        round(col("fossil_pct"), 2).as("fossil_pct"),
        round(col("heating_demand"), 4).as("heating_demand"),
        round(col("cooling_demand"), 4).as("cooling_demand"),
        round(col("wind_solar_combined"), 2).as("wind_solar_combined"),
        round(col("carbon_per_price"), 4).as("carbon_per_price"),
        col("carbon_index"),
        round(col("log_so2"), 6).as("log_so2"),
        round(col("log_pm2_5"), 6).as("log_pm2_5"),
        round(col("log_co"), 6).as("log_co"),
        round(col("log_no2"), 6).as("log_no2"),
        round(col("log_pm10"), 6).as("log_pm10"),
        round(col("log_solar_radiation_Wm2"), 6).as("log_solar"),
        round(col("`log_uk_gen_solar_%`"), 6).as("log_gen_solar"),
        round(col("log_aqi_us"), 6).as("log_aqi"),
        // +0.0 on every z column: (x-mean)/std can round to zero from
        // below, where Spark's BigDecimal round yields 0.0 but DuckDB
        // keeps IEEE -0.0 (same rule as the cyclical encodings above)
        (round(col("scaled_temperature_C"), 6) + lit(0.0)).as("z_temperature"),
        (round(col("scaled_wind_speed_mps"), 6) + lit(0.0)).as("z_wind_speed"),
        (round(col("`scaled_humidity_%`"), 6) + lit(0.0)).as("z_humidity"),
        (round(col("scaled_carbon_intensity_actual"), 6) + lit(0.0)).as("z_carbon"),
        (round(col("`scaled_uk_gen_wind_%`"), 6) + lit(0.0)).as("z_gen_wind"),
        (round(col("`scaled_uk_gen_gas_%`"), 6) + lit(0.0)).as("z_gen_gas"))
    }),

    // ---- Exact percentiles (order statistics) ------------------------------
    // percentile_disc picks an actual data value (no interpolation
    // arithmetic), so it is bit-identical across engines — unlike
    // percentile_cont, whose a+f*(b-a) floating evaluation order differs.
    "a6_percentiles" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql(
        """SELECT event_type,
          |  COUNT(*) AS n,
          |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50,
          |  percentile_disc(0.95) WITHIN GROUP (ORDER BY value) AS p95
          |FROM events_v GROUP BY event_type""".stripMargin)
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS revenue,
        | ROUND(AVG(l_discount),6) AS avg_disc, COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "a1_nullcount" ->
      ("SELECT " + Seq("event_id", "ts", "user_id", "event_type", "value", "props")
        .map(c => s"COUNT(*) - COUNT($c) AS null_$c").mkString(", ") + " FROM events"),
    "a2_minmax" ->
      "SELECT MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date, COUNT(*) AS n FROM orders",
    "a3_count" ->
      "SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",
    "a5_salted_count" ->
      "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
    "a4_scale" ->
      """SELECT l_orderkey, l_linenumber,
        | ROUND((l_quantity - AVG(l_quantity) OVER ()) /
        |   (CASE WHEN STDDEV_POP(l_quantity) OVER () = 0 THEN 1.0 ELSE STDDEV_POP(l_quantity) OVER () END), 6) AS z_qty,
        | ROUND((l_extendedprice - AVG(l_extendedprice) OVER ()) /
        |   (CASE WHEN STDDEV_POP(l_extendedprice) OVER () = 0 THEN 1.0 ELSE STDDEV_POP(l_extendedprice) OVER () END), 6) AS z_price
        |FROM lineitem""".stripMargin,
    "p1_project" ->
      "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
    "p2_filter_date" ->
      """SELECT o_orderkey, o_custkey, date_trunc('day', o_orderdate) AS o_day FROM orders
        |WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1997-01-01' AND DATE '1997-01-31'""".stripMargin,
    "p3_filter_minute" ->
      """SELECT event_id, hour(CAST(ts AS TIMESTAMP)) AS h FROM events
        |WHERE minute(CAST(ts AS TIMESTAMP)) = 0""".stripMargin,
    "p4_isin" ->
      "SELECT p_partkey, p_brand, p_size FROM part WHERE p_brand IN ('Brand#1','Brand#13','Brand#20')",
    "p5_contains" ->
      "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority LIKE '%HIGH%'",
    "p6_notnull" ->
      """SELECT event_id, event_type FROM events
        |WHERE props IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL""".stripMargin,
    "j1_outer" ->
      """WITH c AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) h, ROUND(SUM(value),2) click_sum
        |           FROM events WHERE event_type='click' GROUP BY 1),
        |     e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) h, COUNT(*) n_err
        |           FROM events WHERE event_type='error' GROUP BY 1)
        |SELECT COALESCE(c.h, e.h) AS h, c.click_sum, e.n_err
        |FROM c FULL OUTER JOIN e ON c.h = e.h""".stripMargin,
    "j2_asof" ->
      """WITH rates AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS t, ROUND(SUM(value),2) AS rate
        |  FROM events WHERE event_type='purchase' GROUP BY 1),
        |lefts AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type='click'),
        |cand AS (
        |  SELECT l.event_id, r.rate,
        |         ROW_NUMBER() OVER (PARTITION BY l.event_id
        |           ORDER BY ABS(epoch_us(l.t) - epoch_us(r.t)) ASC, r.t ASC) AS rn
        |  FROM lefts l JOIN rates r ON ABS(epoch_us(l.t) - epoch_us(r.t)) <= 900000000)
        |SELECT l.event_id, c.rate
        |FROM lefts l LEFT JOIN (SELECT event_id, rate FROM cand WHERE rn=1) c USING(event_id)""".stripMargin,
    "j2b_asof_backward" ->
      """WITH rates AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS t, ROUND(SUM(value),2) AS rate
        |  FROM events WHERE event_type='purchase' GROUP BY 1),
        |lefts AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type='signup'),
        |cand AS (
        |  SELECT l.event_id, r.rate,
        |         ROW_NUMBER() OVER (PARTITION BY l.event_id ORDER BY r.t DESC) AS rn
        |  FROM lefts l JOIN rates r
        |    ON r.t <= l.t AND epoch_us(l.t) - epoch_us(r.t) <= 1800000000)
        |SELECT l.event_id, c.rate
        |FROM lefts l LEFT JOIN (SELECT event_id, rate FROM cand WHERE rn=1) c USING(event_id)""".stripMargin,
    "j3_cross" ->
      """SELECT l_orderkey, l_linenumber,
        | ROUND(l_extendedprice / (SELECT AVG(l_extendedprice) FROM lineitem), 6) AS price_ratio
        |FROM lineitem""".stripMargin,
    // NOT EXISTS, not NOT IN: a single NULL o_custkey would make NOT IN
    // return zero rows while Spark's left_anti treats NULL as no-match —
    // NOT EXISTS has exactly the anti-join's semantics
    "j4_anti" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""".stripMargin,
    "j5_union" ->
      """SELECT o_orderkey, o_orderstatus, 'high' AS bucket FROM orders WHERE o_totalprice > 300000
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, 'low' AS bucket FROM orders WHERE o_totalprice < 10000""".stripMargin,
    // Same text as the Spark-side SQL (modulo the view name): values come
    // straight from the parquet doubles, so no rounding is needed.
    "j6_band_sql" ->
      """WITH a AS (SELECT event_id, value FROM events WHERE event_id % 97 = 0),
        |     b AS (SELECT event_id, value FROM events WHERE event_id % 89 = 1)
        |SELECT a.event_id AS l_id, b.event_id AS r_id,
        |       a.value AS l_value, b.value AS r_value
        |FROM a JOIN b ON abs(a.value - b.value) <= 1.0""".stripMargin,
    "d1_upsert_newest" ->
      """WITH existing AS (SELECT event_id, user_id, value, 0 AS prio FROM events),
        |     incoming AS (SELECT event_id, user_id, ROUND(value*2,2) AS value, 1 AS prio
        |                  FROM events WHERE event_id % 3 = 0),
        |     u AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming),
        |     r AS (SELECT event_id, user_id, value,
        |              ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY prio DESC) AS rn FROM u)
        |SELECT event_id, user_id, value FROM r WHERE rn = 1""".stripMargin,
    "d2_dedup_first" ->
      """WITH existing AS (SELECT event_id, user_id, value, 1 AS prio FROM events),
        |     incoming AS (SELECT event_id, user_id, ROUND(value*3,2) AS value, 0 AS prio
        |                  FROM events WHERE event_id % 5 = 0),
        |     u AS (SELECT * FROM existing UNION ALL SELECT * FROM incoming),
        |     r AS (SELECT event_id, user_id, value,
        |              ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY prio DESC) AS rn FROM u)
        |SELECT event_id, user_id, value FROM r WHERE rn = 1""".stripMargin,
    "d3_sort_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "s4_pivot" ->
      """SELECT user_id,
        | ROUND(SUM(CASE WHEN event_type='click' THEN value END),2) AS click,
        | ROUND(SUM(CASE WHEN event_type='error' THEN value END),2) AS error,
        | ROUND(SUM(CASE WHEN event_type='purchase' THEN value END),2) AS purchase,
        | ROUND(SUM(CASE WHEN event_type='signup' THEN value END),2) AS signup,
        | ROUND(SUM(CASE WHEN event_type='view' THEN value END),2) AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "f1_temporal" ->
      """SELECT event_id,
        | hour(CAST(ts AS TIMESTAMP)) AS hour,
        | isodow(CAST(ts AS TIMESTAMP)) - 1 AS day_of_week,
        | month(CAST(ts AS TIMESTAMP)) AS month,
        | day(CAST(ts AS TIMESTAMP)) AS day_of_month,
        | weekofyear(CAST(ts AS TIMESTAMP)) AS week_of_year,
        | CASE WHEN isodow(CAST(ts AS TIMESTAMP)) - 1 >= 5 THEN 1 ELSE 0 END AS is_weekend,
        | CASE WHEN hour(CAST(ts AS TIMESTAMP)) BETWEEN 17 AND 21 THEN 1 ELSE 0 END AS is_peak_hour,
        | CASE WHEN hour(CAST(ts AS TIMESTAMP)) = 23 OR hour(CAST(ts AS TIMESTAMP)) BETWEEN 0 AND 6
        |      THEN 1 ELSE 0 END AS is_night
        |FROM events""".stripMargin,
    "f2_cyclical" ->
      """SELECT event_id,
        | ROUND(SIN(2*PI()*hour(CAST(ts AS TIMESTAMP))/24.0),6) + 0.0 AS hour_sin,
        | ROUND(COS(2*PI()*hour(CAST(ts AS TIMESTAMP))/24.0),6) + 0.0 AS hour_cos,
        | ROUND(SIN(2*PI()*month(CAST(ts AS TIMESTAMP))/12.0),6) + 0.0 AS month_sin,
        | ROUND(COS(2*PI()*month(CAST(ts AS TIMESTAMP))/12.0),6) + 0.0 AS month_cos
        |FROM events""".stripMargin,
    "f3_interaction" ->
      """SELECT event_id,
        | ROUND(CASE WHEN value IS NULL THEN NULL ELSE GREATEST(0.0, 18.0 - value) END, 4) AS heating_demand,
        | ROUND(CASE WHEN value IS NULL THEN NULL ELSE GREATEST(0.0, value - 22.0) END, 4) AS cooling_demand,
        | ROUND(value / (user_id + 1e-6), 4) AS value_per_user
        |FROM events""".stripMargin,
    "f4_log" ->
      "SELECT event_id, ROUND(LN(1 + COALESCE(value, 0)), 6) AS log_value FROM events",
    "q2_join_chain" ->
      """SELECT r_name, n_name, COUNT(*) AS n_items,
        |       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY r_name, n_name""".stripMargin,
    "q4_conditional_agg" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
        |  CAST(SUM(CASE WHEN l_discount <= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_disc,
        |  ROUND(SUM(CASE WHEN l_tax > 0.04 THEN l_extendedprice ELSE 0.0 END), 2) AS taxed_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q5_promo_share" ->
      """SELECT p_brand,
        |  COUNT(*) AS n_items,
        |  ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'STANDARD%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END), 2) AS promo_revenue,
        |  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,
    "a7_approx_distinct" ->
      """SELECT COUNT(DISTINCT l_partkey) AS exact_nd, CAST(1 AS BIGINT) AS approx_ok
        |FROM lineitem""".stripMargin,
    "q6_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |       COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "p9_unpivot" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, measure, val
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax FROM lineitem)
        |UNPIVOT (val FOR measure IN (l_quantity, l_discount, l_tax))""".stripMargin,
    "q3_topn_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       ROW_NUMBER() OVER (PARTITION BY o_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |FROM orders QUALIFY rk <= 3""".stripMargin,
    "json1_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events",
    "w1_window" ->
      """SELECT event_id, user_id,
        | ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        | ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS cum_value
        |FROM events""".stripMargin,
    "w2_sessionize" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e),
        |t AS (SELECT user_id, ts,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
        |      FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM t GROUP BY user_id, session_seq""".stripMargin,
    // identical semantics -> identical oracle (see the w2b query comment)
    "w2b_sessionize_skewsafe" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |s AS (SELECT user_id, ts,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |              OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) > 1800
        |             THEN 1 ELSE 0 END AS new_sess
        |      FROM e),
        |t AS (SELECT user_id, ts,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts) AS session_seq
        |      FROM s)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM t GROUP BY user_id, session_seq""".stripMargin,
    "st1_stream_hourly" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
        |       COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // Exact-membership replay of the streaming sketch probe's batch face
    // (same replay rule as x39: no false positive at oracle scale,
    // verified by x39b's budget gate).
    "st3_stream_bloom_probe" ->
      """WITH incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0)
        |SELECT doc_id FROM incoming
        |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 7 <> 0)""".stripMargin,
    // j2_asof's oracle verbatim: the stream face must equal the batch
    // as-of join row-for-row.
    "st4_stream_asof" ->
      """WITH rates AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)) AS t, ROUND(SUM(value),2) AS rate
        |  FROM events WHERE event_type='purchase' GROUP BY 1),
        |lefts AS (
        |  SELECT event_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type='click'),
        |cand AS (
        |  SELECT l.event_id, r.rate,
        |         ROW_NUMBER() OVER (PARTITION BY l.event_id
        |           ORDER BY ABS(epoch_us(l.t) - epoch_us(r.t)) ASC, r.t ASC) AS rn
        |  FROM lefts l JOIN rates r ON ABS(epoch_us(l.t) - epoch_us(r.t)) <= 900000000)
        |SELECT l.event_id, c.rate
        |FROM lefts l LEFT JOIN (SELECT event_id, rate FROM cand WHERE rn=1) c USING(event_id)""".stripMargin,
    // DuckDB replay of the ep2 composition: same synthetic raw CTE (keyed
    // off the hour formula), then every derived column re-expressed with
    // the proven cross-engine forms — isodow-1 for weekday Mon=0, LN(1+x)
    // for log1p, AVG/STDDEV_POP OVER () with COALESCE(x,0) fit-and-
    // transform for the sklearn z-scale, +0.0 after rounds that can hit
    // IEEE -0.0.
    "ep2_engineered_parity" ->
      """WITH hours AS (
        |  SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS datetime FROM events
        |), keyed AS (
        |  SELECT datetime,
        |         hour(datetime) + day(datetime) * 24 + month(datetime) * 700 AS h
        |  FROM hours
        |), raw AS (
        |  SELECT datetime, h,
        |    CASE WHEN h % 17 = 0 THEN NULL ELSE (h % 30) - 5.5 END AS temperature,
        |    40.0 + (h % 55) AS humidity,
        |    (h % 13) * 0.7 AS wind_speed,
        |    (h % 500) * 1.0 AS solar_rad,
        |    (h % 80) * 0.5 AS pm10,
        |    (h % 60) * 0.25 AS pm2_5,
        |    (h % 300) * 1.0 AS co,
        |    (h % 90) * 0.5 AS no2,
        |    (h % 40) * 0.25 AS so2,
        |    (h % 200) * 1.0 AS aqi_us,
        |    CASE WHEN h % 19 = 0 THEN NULL ELSE (h % 250) * 1.0 END AS carbon_actual,
        |    (h % 45) * 1.0 AS gen_gas,
        |    (h % 25) * 1.0 AS gen_solar,
        |    (h % 50) * 1.0 AS gen_wind,
        |    CASE WHEN h % 23 = 0 THEN NULL ELSE (h % 35) * 0.01 END AS price
        |  FROM keyed
        |)
        |SELECT datetime,
        |  hour(datetime) AS hour,
        |  isodow(datetime) - 1 AS day_of_week,
        |  month(datetime) AS month,
        |  day(datetime) AS day_of_month,
        |  weekofyear(datetime) AS week_of_year,
        |  CASE WHEN isodow(datetime) - 1 >= 5 THEN 1 ELSE 0 END AS is_weekend,
        |  CASE WHEN hour(datetime) BETWEEN 17 AND 21 THEN 1 ELSE 0 END AS is_peak_hour,
        |  CASE WHEN hour(datetime) = 23 OR hour(datetime) BETWEEN 0 AND 6
        |       THEN 1 ELSE 0 END AS is_night,
        |  ROUND(SIN(2*PI()*hour(datetime)/24.0),6) + 0.0 AS hour_sin,
        |  ROUND(COS(2*PI()*hour(datetime)/24.0),6) + 0.0 AS hour_cos,
        |  ROUND(SIN(2*PI()*month(datetime)/12.0),6) + 0.0 AS month_sin,
        |  ROUND(COS(2*PI()*month(datetime)/12.0),6) + 0.0 AS month_cos,
        |  ROUND(gen_wind + gen_solar, 2) AS renewable_pct,
        |  ROUND(gen_gas, 2) AS fossil_pct,
        |  ROUND(CASE WHEN temperature IS NULL THEN NULL
        |             ELSE GREATEST(0.0, 18.0 - temperature) END, 4) AS heating_demand,
        |  ROUND(CASE WHEN temperature IS NULL THEN NULL
        |             ELSE GREATEST(0.0, temperature - 22.0) END, 4) AS cooling_demand,
        |  ROUND(gen_wind * solar_rad, 2) AS wind_solar_combined,
        |  ROUND(carbon_actual / (price + 1e-6), 4) AS carbon_per_price,
        |  CASE WHEN h % 3 = 0 THEN 'low' WHEN h % 3 = 1 THEN 'moderate'
        |       ELSE 'high' END AS carbon_index,
        |  ROUND(LN(1 + COALESCE(so2, 0)), 6) AS log_so2,
        |  ROUND(LN(1 + COALESCE(pm2_5, 0)), 6) AS log_pm2_5,
        |  ROUND(LN(1 + COALESCE(co, 0)), 6) AS log_co,
        |  ROUND(LN(1 + COALESCE(no2, 0)), 6) AS log_no2,
        |  ROUND(LN(1 + COALESCE(pm10, 0)), 6) AS log_pm10,
        |  ROUND(LN(1 + COALESCE(solar_rad, 0)), 6) AS log_solar,
        |  ROUND(LN(1 + COALESCE(gen_solar, 0)), 6) AS log_gen_solar,
        |  ROUND(LN(1 + COALESCE(aqi_us, 0)), 6) AS log_aqi,
        |  ROUND((COALESCE(temperature,0) - AVG(COALESCE(temperature,0)) OVER ()) /
        |    (CASE WHEN STDDEV_POP(COALESCE(temperature,0)) OVER () = 0 THEN 1.0
        |          ELSE STDDEV_POP(COALESCE(temperature,0)) OVER () END), 6) + 0.0 AS z_temperature,
        |  ROUND((COALESCE(wind_speed,0) - AVG(COALESCE(wind_speed,0)) OVER ()) /
        |    (CASE WHEN STDDEV_POP(COALESCE(wind_speed,0)) OVER () = 0 THEN 1.0
        |          ELSE STDDEV_POP(COALESCE(wind_speed,0)) OVER () END), 6) + 0.0 AS z_wind_speed,
        |  ROUND((COALESCE(humidity,0) - AVG(COALESCE(humidity,0)) OVER ()) /
        |    (CASE WHEN STDDEV_POP(COALESCE(humidity,0)) OVER () = 0 THEN 1.0
        |          ELSE STDDEV_POP(COALESCE(humidity,0)) OVER () END), 6) + 0.0 AS z_humidity,
        |  ROUND((COALESCE(carbon_actual,0) - AVG(COALESCE(carbon_actual,0)) OVER ()) /
        |    (CASE WHEN STDDEV_POP(COALESCE(carbon_actual,0)) OVER () = 0 THEN 1.0
        |          ELSE STDDEV_POP(COALESCE(carbon_actual,0)) OVER () END), 6) + 0.0 AS z_carbon,
        |  ROUND((COALESCE(gen_wind,0) - AVG(COALESCE(gen_wind,0)) OVER ()) /
        |    (CASE WHEN STDDEV_POP(COALESCE(gen_wind,0)) OVER () = 0 THEN 1.0
        |          ELSE STDDEV_POP(COALESCE(gen_wind,0)) OVER () END), 6) + 0.0 AS z_gen_wind,
        |  ROUND((COALESCE(gen_gas,0) - AVG(COALESCE(gen_gas,0)) OVER ()) /
        |    (CASE WHEN STDDEV_POP(COALESCE(gen_gas,0)) OVER () = 0 THEN 1.0
        |          ELSE STDDEV_POP(COALESCE(gen_gas,0)) OVER () END), 6) + 0.0 AS z_gen_gas
        |FROM raw""".stripMargin,
    "st2_stream_interval_join" ->
      """WITH c AS (SELECT event_id AS l_id, user_id AS u, CAST(ts AS TIMESTAMP) AS lts
        |           FROM events WHERE event_type = 'click'),
        |     p AS (SELECT event_id AS r_id, user_id AS u, CAST(ts AS TIMESTAMP) AS rts,
        |                  value AS r_value
        |           FROM events WHERE event_type = 'purchase')
        |SELECT c.l_id, p.r_id, p.r_value
        |FROM c JOIN p ON c.u = p.u
        |  AND p.rts >= c.lts - INTERVAL 30 MINUTE
        |  AND p.rts <= c.lts + INTERVAL 30 MINUTE""".stripMargin,
    "a6_percentiles" ->
      """SELECT event_type, COUNT(*) AS n,
        |  quantile_disc(value, 0.5)  AS p50,
        |  quantile_disc(value, 0.95) AS p95
        |FROM events GROUP BY event_type""".stripMargin
  )
}
