package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SessionizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("gap splits sessions; boundary gap stays in-session; keys independent") {
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:30:00")), // exactly 1800 s -> same session
      (1L, Timestamp.valueOf("2024-01-01 11:00:01")), // 1801 s -> new session
      (2L, Timestamp.valueOf("2024-01-01 10:05:00"))  // other key starts at 1
    ).toDF("user_id", "t")
    val out = Sessionize.sessions(df, "user_id", "t", 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 1L)) == 2L) // first session: two events
    assert(out((1L, 2L)) == 1L) // gap opened a second session
    assert(out((2L, 1L)) == 1L)
  }

  test("TIMESTAMP_NTZ input is accepted and wall-clock-identical to LTZ (UTC session)") {
    // the round-7 testdata regeneration shipped NTZ timestamps and broke
    // analysis far from the loader; the operator now normalizes defensively
    import org.apache.spark.sql.types.TimestampNTZType
    val df = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 11:00:01"))
    ).toDF("user_id", "t")
    val ltz = Sessionize.sessions(df, "user_id", "t", 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ntz = Sessionize.sessions(
      df.withColumn("t", col("t").cast(TimestampNTZType)), "user_id", "t", 1800L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ntz == ltz && ltz.size == 2)
  }

  test("sessionization plans exactly one exchange (rollup reuses the window partitioning)") {
    val df = Seq((1L, Timestamp.valueOf("2024-01-01 10:00:00"))).toDF("user_id", "t")
    val plan = Sessionize.sessions(df, "user_id", "t", 1800L)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1, s"plan:\n$plan")
  }
}

class AsofJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def left(times: String*) =
    times.zipWithIndex.map { case (t, i) => (i.toLong, ts(t)) }.toDF("id", "t")
  private def right(rows: (String, Double)*) =
    rows.map { case (t, v) => (ts(t), v) }.toDF("t", "v")

  test("exact match preferred; inclusive tolerance boundary") {
    val l = left("2024-01-01 10:00:00", "2024-01-01 11:00:00")
    val r = right("2024-01-01 10:00:00" -> 1.0, "2024-01-01 11:30:00" -> 2.0)
    val out = AsofJoin.nearest(l, r, "t", 1800L, Seq("id"))
      .orderBy("id").select("v").collect()
    assert(out(0).getDouble(0) == 1.0)
    assert(out(1).getDouble(0) == 2.0) // exactly +30min -> inclusive
  }

  test("TIMESTAMP_NTZ inputs are accepted on either side (round-7 testdata regression)") {
    import org.apache.spark.sql.types.TimestampNTZType
    val l = left("2024-01-01 10:00:00", "2024-01-01 11:00:00")
    val r = right("2024-01-01 10:00:00" -> 1.0, "2024-01-01 11:30:00" -> 2.0)
    val expected = AsofJoin.nearest(l, r, "t", 1800L, Seq("id"))
      .orderBy("id").select("v").collect().map(_.getDouble(0)).toSeq
    val got = AsofJoin.nearest(
      l.withColumn("t", col("t").cast(TimestampNTZType)),
      r.withColumn("t", col("t").cast(TimestampNTZType)),
      "t", 1800L, Seq("id"))
      .orderBy("id").select("v").collect().map(_.getDouble(0)).toSeq
    assert(got == expected && got == Seq(1.0, 2.0))
  }

  test("colliding payload column names are rejected up front") {
    val l = left("2024-01-01 10:00:00").withColumn("v", lit(0.0))
    val r = right("2024-01-01 10:00:00" -> 1.0) // also carries "v"
    val e = intercept[IllegalArgumentException] {
      AsofJoin.nearest(l, r, "t", 1800L, Seq("id"))
    }
    assert(e.getMessage.contains("v"))
  }

  test("just outside tolerance -> null (left-preserving)") {
    val l = left("2024-01-01 10:00:00")
    val r = right("2024-01-01 10:30:01" -> 9.9)
    val out = AsofJoin.nearest(l, r, "t", 1800L, Seq("id")).select("v").collect()
    assert(out(0).isNullAt(0))
  }

  test("equidistant tie -> earlier right row wins (pandas backward bias)") {
    val l = left("2024-01-01 10:00:00")
    val r = right("2024-01-01 09:45:00" -> 1.0, "2024-01-01 10:15:00" -> 2.0)
    val out = AsofJoin.nearest(l, r, "t", 1800L, Seq("id")).select("v").head()
    assert(out.getDouble(0) == 1.0)
  }

  test("backward direction: latest right row at or before the left one wins") {
    val l = left("2024-01-01 10:00:00")
    // the later row is nearer, so only the direction picks the earlier one
    val r = right("2024-01-01 09:58:00" -> 1.0, "2024-01-01 10:01:00" -> 2.0)
    assert(AsofJoin.backward(l, r, "t", 600L, Seq("id")).select("v").head().getDouble(0) == 1.0)
    assert(AsofJoin.nearest(l, r, "t", 600L, Seq("id")).select("v").head().getDouble(0) == 2.0)
  }

  test("left-total: null-key and null-`on` rows each come back once with a null match") {
    val at10 = Some(ts("2024-01-01 10:00:00"))
    // two identical null-key rows: one window partition would keep only one
    val l = Seq[(Option[Long], Option[Timestamp])](
      (Some(1L), at10), (Some(2L), None), (Some(3L), None),
      (None, at10), (None, at10), (None, None)).toDF("id", "t")
    val r = right("2024-01-01 10:00:00" -> 1.0)
    for (asof <- Seq(AsofJoin.nearest _, AsofJoin.backward _)) {
      val out = asof(l, r, "t", 1800L, Seq("id")).select("id", "t", "v").collect()
        .map(x => (Option(x.get(0)), Option(x.get(1)), Option(x.get(2)))).toSeq
      assert(out.size == 6, out)
      assert(out.filter(_._3.isDefined) == Seq((Some(1L), at10, Some(1.0))), out)
      assert(out.count(_._1.isEmpty) == 3 && out.count(_._2.isEmpty) == 3, out)
    }
  }

  test("property: bucketed nearest == brute-force nearest on random timestamps") {
    val rnd = new scala.util.Random(7)
    val base = ts("2024-06-01 00:00:00").getTime
    val lTimes = (0 until 200).map(i => (i.toLong, new Timestamp(base + rnd.nextInt(86400) * 1000L)))
    val rTimes = (0 until 50).map(i => (new Timestamp(base + rnd.nextInt(86400) * 1000L), i.toDouble))
    val l = lTimes.toDF("id", "t")
    val r = rTimes.toDF("t", "v")
    val tol = 900L

    val got = AsofJoin.nearest(l, r, "t", tol, Seq("id"))
      .select("id", "v").collect().map(x => x.getLong(0) -> (if (x.isNullAt(1)) null else x.getDouble(1))).toMap

    // brute force on the driver
    val expected = lTimes.map { case (id, lt) =>
      val cands = rTimes.filter { case (rt, _) => math.abs(rt.getTime - lt.getTime) <= tol * 1000 }
      if (cands.isEmpty) id -> null
      else {
        val best = cands.minBy { case (rt, _) =>
          (math.abs(rt.getTime - lt.getTime), rt.getTime) } // tie -> earlier
        id -> best._2
      }
    }.toMap
    assert(got == expected)
  }
}

class UpsertSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("keepNewest: incoming replaces on collision; keepFirst: existing wins") {
    val existing = Seq((1L, "old1"), (2L, "old2")).toDF("k", "v")
    val incoming = Seq((2L, "new2"), (3L, "new3")).toDF("k", "v")
    val newest = Upsert.keepNewest(existing, incoming, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(newest == Map(1L -> "old1", 2L -> "new2", 3L -> "new3"))
    val first = Upsert.keepFirst(existing, incoming, Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first == Map(1L -> "old1", 2L -> "old2", 3L -> "new3"))
  }

  test("idempotence: upserting the same batch twice changes nothing") {
    val a = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    val b = Seq((2L, 20.0), (3L, 30.0)).toDF("k", "v")
    val once = Upsert.keepNewest(a, b, Seq("k"))
    val twice = Upsert.keepNewest(once, b, Seq("k"))
    assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
  }

  test("schema alignment: missing incoming columns null-filled (unionByName)") {
    val existing = Seq((1L, "a", 1.0)).toDF("k", "v", "extra")
    val incoming = Seq((2L, "b")).toDF("k", "v")
    val out = Upsert.keepNewest(existing, incoming, Seq("k")).orderBy("k").collect()
    assert(out(1).isNullAt(2))
  }
}

class SnapshotDiffSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("insert/delete/update classified; unchanged rows emit nothing") {
    val prev = Seq((1L, "a", 10L), (2L, "b", 20L), (4L, "gone", 40L))
      .toDF("k", "v", "n")
    val next = Seq((1L, "a", 10L), (2L, "B", 20L), (3L, "new", 30L))
      .toDF("k", "v", "n")
    val out = SnapshotDiff.diff(prev, next, "k", Seq("v", "n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(2L -> "update", 3L -> "insert", 4L -> "delete"))
  }

  test("null payloads compare null-safely: null==null is unchanged, null->value is update") {
    val prev = Seq((1L, Option.empty[String]), (2L, Option.empty[String]), (3L, Option("x")))
      .toDF("k", "v")
    val next = Seq((1L, Option.empty[String]), (2L, Option("now")), (3L, Option.empty[String]))
      .toDF("k", "v")
    val out = SnapshotDiff.diff(prev, next, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // key 1: null <=> null — NOT a change; keys 2 and 3: null vs value
    assert(out == Map(2L -> "update", 3L -> "update"))
  }

  test("diff of a snapshot against itself is empty; full replacement is all three kinds") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    assert(SnapshotDiff.diff(a, a, "k", Seq("v")).isEmpty)
    val b = Seq((2L, "z"), (3L, "w")).toDF("k", "v")
    val out = SnapshotDiff.diff(a, b, "k", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "delete", 2L -> "update", 3L -> "insert"))
  }
}

class FeaturesScalingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("weekday base is Monday=0 (pandas dt.dayofweek), not Sunday=1") {
    // 2024-03-11 is a Monday
    val df = Seq(Timestamp.valueOf("2024-03-11 12:00:00")).toDF("datetime")
    val r = Features.withTemporal(df).select("day_of_week", "is_weekend").head()
    assert(r.getInt(0) == 0 && r.getInt(1) == 0)
  }

  test("is_night: hour 23 and 0-6 inclusive; is_peak: 17-21 inclusive") {
    val rows = (0 until 24).map(h => Timestamp.valueOf(f"2024-03-11 $h%02d:00:00")).toDF("datetime")
    val m = Features.withTemporal(rows).select("hour", "is_night", "is_peak_hour")
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert((0 to 6).forall(m(_)._1 == 1) && m(23)._1 == 1 && m(7)._1 == 0 && m(22)._1 == 0)
    assert((17 to 21).forall(m(_)._2 == 1) && m(16)._2 == 0 && m(22)._2 == 0)
  }

  test("cyclical encodings bounded and sin^2+cos^2 == 1") {
    val rows = (0 until 24).map(h => Timestamp.valueOf(f"2024-05-01 $h%02d:00:00")).toDF("datetime")
    val out = Features.withTemporal(rows).select("hour_sin", "hour_cos").collect()
    out.foreach { r =>
      val (s, c) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(s * s + c * c - 1.0) < 1e-12)
    }
  }

  test("clipLower0 preserves null (pandas clip), floors negatives at 0") {
    val df = Seq(Some(-5.0), Some(3.0), None).toDF("x")
      .select(Features.clipLower0(col("x")).as("y"))
    val out = df.collect()
    assert(out(0).getDouble(0) == 0.0 && out(1).getDouble(0) == 3.0 && out(2).isNullAt(0))
  }

  test("zscore: population stddev, zero-variance -> 1.0, fillna(0), empty-safe") {
    val df = Seq((1.0, 7.0), (2.0, 7.0), (3.0, 7.0), (4.0, 7.0)).toDF("a", "b")
    val out = Scaling.zscore(df, Seq("a", "b")).orderBy("a").collect()
    val mean = 2.5
    val stdPop = math.sqrt(Seq(1.0, 2, 3, 4).map(x => (x - mean) * (x - mean)).sum / 4)
    assert(math.abs(out(0).getDouble(out(0).fieldIndex("scaled_a")) - (1.0 - mean) / stdPop) < 1e-12)
    // zero variance: divide by 1.0 -> all zeros, no NaN/Inf
    assert(out.forall(_.getDouble(out(0).fieldIndex("scaled_b")) == 0.0))
    // nulls fill to 0 BEFORE the fit
    val withNull = Seq(Some(2.0), None).toDF("a")
    val z = Scaling.zscore(withNull, Seq("a")).select("scaled_a").collect().map(_.getDouble(0))
    assert(math.abs(z.sum) < 1e-12) // mean of (2,0)=1, std=1 -> z = (+1,-1)
  }
}

class Scd2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("consecutive equal runs collapse; valid_to chains; last run is current") {
    val obs = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "a"), (1L, 30L, 3L, "b"),
      (1L, 40L, 4L, "b"), (1L, 50L, 5L, "a")).toDF("k", "t", "id", "v")
    val out = Scd2.history(obs, "k", Seq("t", "id"), Seq("v"))
      .orderBy("valid_from").collect()
      .map(r => (r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(("a", 10L, 30L, 0L), ("b", 30L, 50L, 0L), ("a", 50L, -1L, 1L)))
  }

  test("null tracked values merge into runs null-safely; null->value opens an interval") {
    val obs = Seq((1L, 1L, 1L, Option.empty[String]), (1L, 2L, 2L, Option.empty[String]),
      (1L, 3L, 3L, Option("x"))).toDF("k", "t", "id", "v")
    val out = Scd2.history(obs, "k", Seq("t", "id"), Seq("v"))
      .orderBy("valid_from").collect()
    assert(out.length == 2)
    assert(out(0).isNullAt(1) && out(0).getLong(2) == 1L && out(0).getLong(3) == 3L)
    assert(out(1).getString(1) == "x" && out(1).getLong(4) == 1L)
  }

  test("point-in-time reconstruction law: every observation falls in exactly one " +
    "interval of its key carrying its own tracked value") {
    val rnd = new scala.util.Random(7)
    val obs = (1 to 400).map { i =>
      (rnd.nextInt(5).toLong, i.toLong, i.toLong, ("s" + rnd.nextInt(3)))
    }.toDF("k", "t", "id", "v")
    val hist = Scd2.history(obs, "k", Seq("t", "id"), Seq("v"))
    val joined = obs.as("o").join(hist.as("h"),
      col("o.k") === col("h.k") && col("o.t") >= col("h.valid_from") &&
        (col("h.valid_to").isNull || col("o.t") < col("h.valid_to")))
    assert(joined.count() == 400)
    assert(joined.where(col("o.v") =!= col("h.v")).count() == 0)
    // exactly one current interval per key
    val cur = hist.where(col("is_current") === 1L).groupBy("k").count().collect()
    assert(cur.forall(_.getLong(1) == 1L))
  }

  private def histSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSet

  test("incremental law: applyBatch(history(older), newer) == history(older ∪ newer) " +
    "for every in-order split") {
    val rnd = new scala.util.Random(11)
    val obs = (1 to 400).map { i =>
      (rnd.nextInt(5).toLong, i.toLong, i.toLong, ("s" + rnd.nextInt(3)))
    }.toDF("k", "t", "id", "v")
    val full = histSet(Scd2.history(obs, "k", Seq("t", "id"), Seq("v")))
    for (cut <- Seq(1L, 57L, 200L, 399L, 400L)) {
      val older = obs.where(col("t") <= cut)
      val newer = obs.where(col("t") > cut)
      val inc = Scd2.applyBatch(Scd2.history(older, "k", Seq("t", "id"), Seq("v")),
        newer, "k", Seq("t", "id"), Seq("v"))
      assert(histSet(inc) == full, s"incremental != full rebuild at cut=$cut")
    }
  }

  test("incremental semantics: value continuation folds into the open run, " +
    "change closes it, batch-only keys build from scratch") {
    val older = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"),
      (2L, 10L, 3L, "x")).toDF("k", "t", "id", "v")
    val hist = Scd2.history(older, "k", Seq("t", "id"), Seq("v"))
    val batch = Seq((1L, 30L, 4L, "b"),   // continues k=1's open run 'b'
      (2L, 30L, 5L, "y"),                 // changes k=2's open run
      (3L, 30L, 6L, "z")).toDF("k", "t", "id", "v") // brand-new key
    val out = histSet(Scd2.applyBatch(hist, batch, "k", Seq("t", "id"), Seq("v")))
    assert(out == Set(
      (1L, "a", 10L, 20L, 0L), (1L, "b", 20L, -1L, 1L), // b kept valid_from=20
      (2L, "x", 10L, 30L, 0L), (2L, "y", 30L, -1L, 1L),
      (3L, "z", 30L, -1L, 1L)), out.toString)
  }

  test("incremental: untouched keys pass through without a window over their rows") {
    val older = Seq((1L, 10L, 1L, "a"), (2L, 10L, 2L, "x")).toDF("k", "t", "id", "v")
    val hist = Scd2.history(older, "k", Seq("t", "id"), Seq("v"))
    val batch = Seq((1L, 20L, 3L, "c")).toDF("k", "t", "id", "v")
    val out = Scd2.applyBatch(hist, batch, "k", Seq("t", "id"), Seq("v"))
    assert(histSet(out)((2L, "x", 10L, -1L, 1L)))
    // k=2 contributes via the anti-join branch only: no change-window rows
    val rebuiltRows = out.where(col("k") === 2L).count()
    assert(rebuiltRows == 1L)
  }

  test("incremental: a contradicting out-of-order batch row fails loudly") {
    val older = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b")).toDF("k", "t", "id", "v")
    val hist = Scd2.history(older, "k", Seq("t", "id"), Seq("v"))
    val batch = Seq((1L, 15L, 3L, "c")).toDF("k", "t", "id", "v") // 'c' inside run 'a'
    val err = intercept[Exception] {
      Scd2.applyBatch(hist, batch, "k", Seq("t", "id"), Seq("v")).collect()
    }
    assert(err.getMessage != null && err.getMessage.contains("out-of-order"),
      s"wrong failure: $err")
    // a row before the key's FIRST interval was never folded — also loud
    val tooEarly = Seq((1L, 5L, 4L, "a")).toDF("k", "t", "id", "v")
    intercept[Exception] {
      Scd2.applyBatch(hist, tooEarly, "k", Seq("t", "id"), Seq("v")).collect()
    }
  }

  test("incremental replay is idempotent, including across change points") {
    val older = Seq((1L, 1L, 1L, "v1"), (1L, 2L, 2L, "v1")).toDF("k", "t", "id", "v")
    val batch = Seq((1L, 3L, 3L, "v2"), (1L, 4L, 4L, "v3")).toDF("k", "t", "id", "v")
    val once = Scd2.applyBatch(Scd2.history(older, "k", Seq("t", "id"), Seq("v")),
      batch, "k", Seq("t", "id"), Seq("v")).localCheckpoint(true)
    // the foreachBatch recovery path: the SAME batch applies again — its
    // v2@3 row now lands INSIDE the recorded closed run [3, 4) and must
    // fold as a no-op, not trip the out-of-order guard
    val twice = Scd2.applyBatch(once, batch, "k", Seq("t", "id"), Seq("v"))
    assert(histSet(twice) == histSet(once))
    assert(histSet(once) == histSet(Scd2.history(
      older.unionByName(batch), "k", Seq("t", "id"), Seq("v"))))
    // a consistent row inside a collapsed run (never literally seen, but
    // matching the covering interval's value) folds silently — recorded
    // history cannot distinguish it from a replay, and folding is correct
    val consistent = Seq((1L, 1L, 9L, "v1")).toDF("k", "t", "id", "v")
    val h3 = Scd2.applyBatch(once, consistent, "k", Seq("t", "id"), Seq("v"))
    assert(histSet(h3) == histSet(once))
  }
}

class RollingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def events(rows: Seq[(Long, Long, Long, Double)]) =
    rows.toDF("event_id", "user_id", "tsec", "value")
      .withColumn("ts", expr("timestamp_seconds(tsec)")).drop("tsec")

  test("RANGE frame is a trailing inclusive hour; ROWS frame is the last N by (ts, id)") {
    val df = events(Seq((1L, 1L, 0L, 1.0), (2L, 1L, 1800L, 2.0), (3L, 1L, 3599L, 3.0),
      (4L, 1L, 3600L, 4.0), (5L, 1L, 7201L, 5.0)))
    val out = Rolling.trailing(df, "user_id", "ts", "event_id", "value",
      windowSeconds = 3600L, lastN = 2).orderBy("event_id").collect()
    // at t=3600 the frame [0, 3600] holds all four earlier-or-equal events
    assert(out(3).getLong(3) == 4L && out(3).getDouble(4) == 10.0)
    // at t=7201 the frame [3601, 7201] holds only itself
    assert(out(4).getLong(3) == 1L && out(4).getDouble(4) == 5.0)
    // ROWS last-2 at event 4 = values 3+4
    assert(out(3).getDouble(5) == 7.0)
  }

  test("equal timestamps are RANGE peers: both rows see both, so intra-tick order is moot") {
    val df = events(Seq((1L, 1L, 100L, 1.0), (2L, 1L, 100L, 2.0)))
    val out = Rolling.trailing(df, "user_id", "ts", "event_id", "value", 3600L, 5)
      .orderBy("event_id").collect()
    assert(out.forall(r => r.getLong(3) == 2L && r.getDouble(4) == 3.0))
    // ROWS frame tie-breaks by id: event 1 sees itself, event 2 sees both
    assert(out(0).getDouble(5) == 1.0 && out(1).getDouble(5) == 3.0)
  }

  test("keys never mix") {
    val df = events(Seq((1L, 1L, 0L, 1.0), (2L, 2L, 1L, 100.0)))
    val out = Rolling.trailing(df, "user_id", "ts", "event_id", "value", 3600L, 5)
      .orderBy("event_id").collect()
    assert(out(0).getDouble(4) == 1.0 && out(1).getDouble(4) == 100.0)
  }

  test("skew-safe trailing == plain trailing: dense keys, sparse keys across empty " +
    "buckets, exact boundary rows, intra-tick ties, lastN over/under bucket size") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 600).map { i =>
      (i.toLong, rnd.nextInt(3) + 1L, rnd.nextInt(40000).toLong,
        rnd.nextInt(500) / 100.0)
    } ++ Seq(
      (1001L, 4L, 0L, 1.0), (1002L, 4L, 50000L, 2.0),    // sparse: 6 buckets apart
      (1003L, 4L, 50000L, 3.0),                          // intra-tick tie
      (1004L, 5L, 7200L, 4.0), (1005L, 5L, 7199L, 5.0),  // rows AT a bucket boundary
      (1006L, 5L, 10799L, 6.0), (1007L, 5L, 10800L, 7.0))
    val df = events(rows)
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    // buckets (7200s) only 2x the range frame, so cross-boundary carry is hot
    assert(asMap(Rolling.trailingSkewSafe(df, "user_id", "ts", "event_id", "value",
        3600L, 5, bucketSeconds = 7200L))
      == asMap(Rolling.trailing(df, "user_id", "ts", "event_id", "value", 3600L, 5)))
    // lastN = 1: no count carry at all, range carry still exact
    assert(asMap(Rolling.trailingSkewSafe(df, "user_id", "ts", "event_id", "value",
        3600L, 1, bucketSeconds = 3600L))
      == asMap(Rolling.trailing(df, "user_id", "ts", "event_id", "value", 3600L, 1)))
    // lastN far larger than most buckets' row counts: the ROWS frame must
    // reassemble across MANY earlier buckets via the summary carry
    assert(asMap(Rolling.trailingSkewSafe(df, "user_id", "ts", "event_id", "value",
        600L, 50, bucketSeconds = 3600L))
      == asMap(Rolling.trailing(df, "user_id", "ts", "event_id", "value", 600L, 50)))
    // the range-coverage precondition is enforced, not silently wrong
    intercept[IllegalArgumentException] {
      Rolling.trailingSkewSafe(df, "user_id", "ts", "event_id", "value",
        3600L, 5, bucketSeconds = 1800L)
    }
  }
}

class QuantilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frame() = {
    val rnd = new scala.util.Random(7)
    val rows =
      (1 to 20000).map(i => ("uniform", i.toDouble)) ++
      (1 to 20000).map(_ => ("lognorm", math.exp(rnd.nextGaussian() * 2))) ++
      (1 to 1000).map(_ => ("constant", 5.0)) ++
      Seq(("tiny", 1.0), ("tiny", 2.0), ("tiny", 3.0))
    rows.toDF("g", "v")
  }

  test("rank audit holds at accuracy 1000 on uniform, heavy-tailed, constant, tiny groups") {
    val out = Quantiles.withRankAudit(frame(), "g", col("v"), Seq(0.5, 0.95), 1000)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set("uniform", "lognorm", "constant", "tiny"))
    assert(out("uniform")._1 == 20000L && out("tiny")._1 == 3L)
    out.foreach { case (g, (_, p50ok, p95ok)) =>
      assert(p50ok == 1L && p95ok == 1L, s"group $g out of rank bound")
    }
  }

  test("sketch answers are actual elements with exact rank inside n/accuracy") {
    val sk = Quantiles.approxByGroup(frame(), "g", col("v"), Seq(0.5), 1000)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // uniform group holds integers 1..20000: p50 must be an element within
    // the bound of rank 10000 (n/accuracy = 20 ranks)
    val u = sk("uniform")
    assert(u == math.rint(u) && math.abs(u - 10000.0) <= 21.0, s"p50=$u")
    assert(sk("constant") == 5.0)
  }

  test("the gate is falsifiable: a low-accuracy sketch fails the tight audit") {
    val df = frame().where(col("g") === "lognorm")
    // sketch at accuracy 20 (rank error up to n/20 = 1000), audited at the
    // production bound n/1000 + 1 = 21 ranks -> must red on continuous data
    val loose = Quantiles.approxByGroup(df, "g", col("v"), Seq(0.5, 0.95), 20)
    val flags = Quantiles.rankAudit(df, "g", col("v"), loose, Seq(0.5, 0.95), 1000)
      .collect().map(r => (r.getLong(2), r.getLong(3))).head
    assert(flags._1 == 0L || flags._2 == 0L,
      s"accuracy-20 sketch passed the accuracy-1000 audit: $flags")
  }

  test("invalid probabilities and accuracy are rejected") {
    intercept[IllegalArgumentException] {
      Quantiles.approxByGroup(frame(), "g", col("v"), Seq(1.5), 1000)
    }
    intercept[IllegalArgumentException] {
      Quantiles.approxByGroup(frame(), "g", col("v"), Seq(0.5), 0)
    }
  }

  test("probabilities that round to the same percent label fail at call time, not as an ambiguous column") {
    val err = intercept[IllegalArgumentException] {
      Quantiles.approxByGroup(frame(), "g", col("v"), Seq(0.949, 0.954), 1000)
    }
    assert(err.getMessage.contains("duplicate column labels"))
    intercept[IllegalArgumentException] {
      Quantiles.rankAudit(frame(), "g", col("v"),
        Quantiles.approxByGroup(frame(), "g", col("v"), Seq(0.95), 1000),
        Seq(0.949, 0.954), 1000)
    }
  }
}

class ResampleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def events(rows: Seq[(Long, Long, Long, Double)]) =
    rows.toDF("event_id", "user_id", "tsec", "value")
      .withColumn("ts", expr("timestamp_seconds(tsec)")).drop("tsec")

  test("grid spans first..last tick; gaps fill forward with n_obs=0; " +
    "latest-in-tick wins with id tie-break; keys independent") {
    val df = events(Seq(
      (1L, 1L, 50L, 1.0),              // tick 0
      (2L, 1L, 150L, 2.0),             // tick 100: two obs...
      (3L, 1L, 199L, 3.0),             // ...latest tsec wins
      (4L, 1L, 199L, 4.0),             // same tsec: higher id wins
      (5L, 1L, 500L, 5.0),             // tick 500 after a 3-tick gap
      (6L, 2L, 120L, 9.0)))            // other key: single obs, single row
    val out = graft.operators.Resample
      .toGrid(df, "user_id", "ts", "event_id", "value", stepSeconds = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out == Map(
      (1L, 0L)   -> (1L, 1.0),
      (1L, 100L) -> (3L, 4.0),  // 3 obs; tsec 199 tie broken by event_id 4
      (1L, 200L) -> (0L, 4.0),  // gap: carried forward
      (1L, 300L) -> (0L, 4.0),
      (1L, 400L) -> (0L, 4.0),
      (1L, 500L) -> (1L, 5.0),
      (2L, 100L) -> (1L, 9.0)))
  }

  test("an observation exactly on a tick boundary lands in that tick") {
    val df = events(Seq((1L, 1L, 0L, 1.0), (2L, 1L, 100L, 2.0)))
    val out = graft.operators.Resample
      .toGrid(df, "user_id", "ts", "event_id", "value", 100L)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(0L -> (1L, 1.0), 100L -> (1L, 2.0)))
    intercept[IllegalArgumentException] {
      graft.operators.Resample.toGrid(df, "user_id", "ts", "event_id", "value", 0L)
    }
  }
}
