package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Property tests (SURVEY.md §5): operator laws over scalacheck-generated
  * inputs. Generators are driven with explicit seeds (no scalatestplus
  * bridge on the offline classpath) — each law is checked over several
  * deterministic samples.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = Timestamp.valueOf("2024-06-01 00:00:00").getTime
  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("asof nearest == brute force, and is left-total") {
    val offsets = Gen.listOfN(40, Gen.choose(0, 6 * 3600))
    for (seed <- 1 to 5) {
      val lOff = sample(offsets, seed)
      val rOff = sample(offsets, seed + 100)
      val lRows = lOff.zipWithIndex.map { case (o, i) => (i.toLong, new Timestamp(base + o * 1000L)) }
      val rRows = rOff.distinct.zipWithIndex.map { case (o, i) => (new Timestamp(base + o * 1000L), i.toDouble) }
      val out = AsofJoin.nearest(lRows.toDF("id", "t"), rRows.toDF("t", "v"), "t", 600L, Seq("id"))
        .select("id", "v").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
      assert(out.size == lRows.size) // left-preserving: every left id present
      lRows.foreach { case (id, lt) =>
        val cands = rRows.filter { case (rt, _) => math.abs(rt.getTime - lt.getTime) <= 600000L }
        val expected =
          if (cands.isEmpty) null
          else cands.minBy { case (rt, _) => (math.abs(rt.getTime - lt.getTime), rt.getTime) }._2
        assert(out(id) == expected, s"seed=$seed id=$id")
      }
    }
  }

  test("bloom dedup law: no false negative on any corpus/batch; merge == union build") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = Gen.listOfN(6, word).map(_.mkString(" "))
    for (seed <- 1 to 5) {
      val corpusTexts = sample(Gen.listOfN(30, doc), seed).distinct
      val batchTexts = sample(Gen.listOfN(20, doc), seed + 50).distinct
      val corpus = corpusTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val batch = batchTexts.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("doc_id", "text")
      // tiny sketch: false positives likely, false negatives must be impossible
      val out = graft.ext.Dedup.bloomDedup(batch, corpus,
        expectedItems = 16, fpp = 0.2)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      batchTexts.zipWithIndex.foreach { case (t, i) =>
        if (corpusTexts.contains(t))
          assert(out(1000L + i) == "drop", s"seed=$seed: duplicate '$t' kept")
      }
      // OR-merging per-half sketches (Spark's sketch codec, which the
      // build emits) answers exactly like the union build
      val (c1, c2) = corpusTexts.splitAt(corpusTexts.size / 2)
      def bloom(ts: Seq[String]) = graft.ext.Dedup.corpusBloom(
        ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"))
      def filter(bf: Array[Byte]) = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bf))
      val merged = {
        val out = new java.io.ByteArrayOutputStream()
        filter(bloom(c1)).mergeInPlace(filter(bloom(c2))).writeTo(out)
        out.toByteArray
      }
      val whole = bloom(corpusTexts)
      val probes = batch.select(col("doc_id"), col("text"))
      def hits(bf: Array[Byte]) = probes
        .select(col("doc_id"), graft.ext.Dedup.bloomMightContain(bf, col("text")))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(hits(merged) == hits(whole), s"seed=$seed: merge != union build")
    }
  }

  test("frequent spans law: sketch path == exact count on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d") // tiny vocab -> many repeated spans
    val doc = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    for (seed <- 1 to 5) {
      val docs = sample(Gen.listOfN(25, doc), seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val exact = docs
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(size(split(text, ' ')) - 2, 0)), " +
            "i -> array_join(slice(split(text, ' '), i, 3), ' '))")).as("span"))
        .groupBy("span").agg(count(lit(1)).as("n"))
        .where(col("n") >= 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = graft.ext.TextStats.frequentSpans(docs, k = 3, minCount = 3, eps = 0.4)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"seed=$seed: sketch path diverged")
    }
  }

  test("boilerplate law: sketch path == exact distinct-doc removal on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d") // tiny vocab -> many shared spans
    val doc = Gen.choose(3, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    for (seed <- 1 to 5) {
      val docs = sample(Gen.listOfN(25, doc), seed).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      // exact referee: trigrams in >= 3 distinct docs, coverage by position
      val exact = docs
        .select(col("doc_id"), expr("split(text, ' ')").as("ws"))
        .select(col("doc_id"), col("ws"), posexplode(expr(
          "transform(sequence(1, greatest(size(ws) - 2, 0)), i -> array_join(slice(ws, i, 3), ' '))"))
          .as(Seq("p0", "span")))
        .withColumn("pos", col("p0") + 1)
      val boilerSpans = exact.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("nd")).where(col("nd") >= 3)
      val refee = exact.join(boilerSpans, Seq("span"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // a terrible sketch must agree exactly (one-sided prefilter + confirm)
      val got = graft.ext.TextStats.removeBoilerplate(docs, k = 3, minDocs = 3, eps = 0.4)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got.filter(_._2 > 0) == refee.filter(_._2 > 0),
        s"seed=$seed: boilerplate span counts diverged")
      // docs the referee never flagged must come back untouched
      val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val rebuilt = graft.ext.TextStats.removeBoilerplate(docs, k = 3, minDocs = 3, eps = 0.4)
        .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
      texts.keys.filterNot(refee.contains).foreach { id =>
        assert(rebuilt(id) == texts(id), s"seed=$seed: clean doc $id was edited")
      }
    }
  }

  test("upsample law: copy counts match the driver-replayed floor/frac rule on random mixes") {
    val tok = Gen.choose(1, 40)
    for (seed <- 1 to 5) {
      val nTok = sample(Gen.listOfN(30, tok), seed)
      val rows = nTok.zipWithIndex.map { case (t, i) =>
        (i.toLong, s"s${i % 3}", Seq.fill(t)("w").mkString(" "))
      }
      val df = rows.toDF("doc_id", "source", "text")
      val budget = 150.0
      val out = graft.ext.Sampling.upsampleToBudget(df, "source",
        graft.ext.TextStats.tokenCount(col("text")), budget, key = "doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n"), max("epoch").as("maxe"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList
      // driver-side referee: recompute f per stratum and the md5 draw per doc
      val totals = rows.groupBy(_._2).view.mapValues(_.map(_._3.split(" ").length.toLong).sum).toMap
      def unit(id: Long): Double = {
        val md5 = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$id|budget".getBytes("UTF-8"))
        java.lang.Long.parseLong(md5.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) / 4294967296.0
      }
      val expected = rows.flatMap { case (id, src, _) =>
        val f = budget / totals(src)
        val n = math.floor(f).toLong + (if (unit(id) < f - math.floor(f)) 1 else 0)
        if (n > 0) Some((id, n, n.toInt - 1)) else None
      }
      assert(out.sorted == expected.sorted, s"seed=$seed: copy counts diverged")
    }
  }

  test("upsert laws: idempotent, key-total, incoming-wins") {
    val kvs = Gen.listOfN(30, Gen.zip(Gen.choose(0L, 15L), Gen.choose(0, 1000)))
    for (seed <- 1 to 5) {
      val a = sample(kvs, seed).distinctBy(_._1)
      val b = sample(kvs, seed + 100).distinctBy(_._1)
      val once = Upsert.keepNewest(a.toDF("k", "v"), b.toDF("k", "v"), Seq("k")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(once.keySet == (a.map(_._1) ++ b.map(_._1)).toSet)
      b.foreach { case (k, v) => assert(once(k) == v) } // incoming wins
      a.filterNot(kv => b.exists(_._1 == kv._1)).foreach { case (k, v) => assert(once(k) == v) }
      val twice = Upsert.keepNewest(once.toSeq.toDF("k", "v"), b.toDF("k", "v"), Seq("k"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(twice == once) // idempotent
    }
  }

  test("salted aggregate == plain aggregate") {
    val rows = Gen.listOfN(200, Gen.zip(Gen.frequency(3 -> Gen.const("hot"), 1 -> Gen.oneOf("a", "b")),
      Gen.choose(0, 100)))
    for (seed <- 1 to 3) {
      val data = sample(rows, seed)
      val df = data.toDF("k", "v")
      val expected = df.groupBy("k").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = Skew.saltedCount(df, Seq("k"), salts = 8).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    }
  }

  test("skew-safe sessionize keeps null-key and null-ts rows, like the plain path") {
    // the offsets equi-join must be NULL-SAFE: groupBy/windows treat a
    // null key (and a null ts's null bucket) as its own group, but a
    // plain join key would match nothing and silently drop the rows
    val df = Seq(
      (Some(7L), Some(Timestamp.valueOf("2024-06-01 10:00:00"))),
      (Some(7L), Some(Timestamp.valueOf("2024-06-01 10:10:00"))),
      (None, Some(Timestamp.valueOf("2024-06-01 11:00:00"))),
      (None, Some(Timestamp.valueOf("2024-06-01 11:05:00"))),
      (Some(8L), None)
    ).toDF("user_id", "t")
    val plain = Sessionize.assign(df, "user_id", "t", 1800L).count()
    val safe = Sessionize.assignSkewSafe(df, "user_id", "t", 1800L, 3600L).count()
    assert(plain == df.count(), "plain path must be row-preserving")
    assert(safe == plain, s"skew-safe dropped rows: $safe != $plain")
  }

  test("skew-safe sessionize == plain sessionize (skewed keys, boundary-spanning and empty buckets)") {
    // timestamps cluster so sessions regularly straddle bucket edges, one
    // key dominates (the skew case the two-phase path exists for), and the
    // small buckets leave some buckets empty mid-session
    val rows = Gen.listOfN(300, Gen.zip(
      Gen.frequency(4 -> Gen.const(7L), 1 -> Gen.choose(0L, 3L)),
      Gen.choose(0L, 6L * 86400L)))
    for (seed <- 1 to 5; (gap, bucket) <- Seq((1800L, 86400L), (7200L, 3600L), (90000L, 3600L))) {
      val data = sample(rows, seed).map { case (k, off) =>
        (k, new Timestamp(base + off * 1000L))
      }
      val df = data.toDF("user_id", "t")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime)
      val plain = Sessionize.assign(df, "user_id", "t", gap)
        .select("user_id", "session_seq", "t").collect().map(key).toSet
      val safe = Sessionize.assignSkewSafe(df, "user_id", "t", gap, bucket)
        .select("user_id", "session_seq", "t").collect().map(key).toSet
      assert(safe == plain, s"seed=$seed gap=$gap bucket=$bucket")
      // rollup face agrees too (n_events + bounds per session)
      val pr = Sessionize.sessions(df, "user_id", "t", gap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getTimestamp(3), r.getTimestamp(4))).toMap
      val sr = Sessionize.sessionsSkewSafe(df, "user_id", "t", gap, bucket).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getTimestamp(3), r.getTimestamp(4))).toMap
      assert(sr == pr, s"seed=$seed gap=$gap bucket=$bucket")
    }
  }

  test("scaler output: mean ~ 0, stddev_pop ~ 1 on non-degenerate input") {
    val xs = Gen.listOfN(50, Gen.choose(-1000.0, 1000.0))
    for (seed <- 1 to 3) {
      val data = sample(xs, seed)
      val z = Scaling.zscore(data.toDF("a"), Seq("a"))
        .agg(avg("scaled_a"), stddev_pop("scaled_a")).head()
      assert(math.abs(z.getDouble(0)) < 1e-9)
      assert(math.abs(z.getDouble(1) - 1.0) < 1e-9)
    }
  }
}
