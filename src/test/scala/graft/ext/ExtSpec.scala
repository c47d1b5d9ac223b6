package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home", 67L),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away now", 66L), // near-dup of 1
    (3L, "completely different words describing yet another unrelated subject entirely here today", 88L),
    (4L, "the quick brown fox jumps over the lazy dog and runs far away home", 67L) // exact dup of 1
  ).toDF("doc_id", "text", "n_chars")

  test("resolveComponents: pairs collapse to per-doc keep/drop via min-id components") {
    // chain 1-2, 2-5 plus isolated 3, 4: components {1,2,5} (rep 1), {3}, {4}
    val ids = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.resolveComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 1L) && out(2L) == (1L, 0L) && out(5L) == (1L, 0L))
    assert(out(3L) == (3L, 1L) && out(4L) == (4L, 1L))
    // idempotence: resolving an already-resolved (pairless) set keeps all
    val again = Dedup.resolveComponents(ids, pairs.limit(0))
    assert(again.where(col("is_kept") === 0).isEmpty)
  }

  test("resolveComponents property: matches union-find on random graphs") {
    // explicit seeds (offline cache has no scalacheck bridge): three random
    // graphs, each checked against a driver-side union-find referee
    for (seed <- Seq(1L, 42L, 2024L)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // referee: classic union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val expected = (0 until n).map { i =>
        i.toLong -> (0 until n).filter(j => find(j) == find(i)).min.toLong
      }.toMap

      val ids = (0L until n.toLong).toDF("doc_id")
      val pairs = edges.toDF("id_a", "id_b")
      val got = Dedup.resolveComponents(ids, pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"seed=$seed")
    }
  }

  test("exact: identical texts collapse to min id with copy count") {
    val out = Dedup.exact(docs).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) -> r.getLong(r.fieldIndex("n_copies"))).toMap
    assert(out(1L) == 2 && out(2L) == 1 && out(3L) == 1)
    assert(!out.contains(4L)) // absorbed into doc 1's group
  }

  test("minhash: exact dup estimates 1.0; near-dup high; unrelated none") {
    val pairs = Dedup.minhashPairs(docs, minJaccard = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 4L)) == 1.0)
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) > 0.5)
    assert(!pairs.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash estimate tracks exact jaccard within banding error") {
    val est = Dedup.minhashPairs(docs, minJaccard = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Dedup.ngramJaccardPairs(docs, lenCol = "n_chars", tol = 50, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    for ((k, j) <- exact if est.contains(k)) assert(math.abs(est(k) - j) < 0.25)
  }

  test("simhash: exact dup -> hamming 0; near-dup small; pairs found via chunk join") {
    val sh = Dedup.simhashChunks(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sh(1L) == sh(4L))
    val pairs = Dedup.simhashPairs(docs, maxHamming = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs((1L, 4L)) == 0L)
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard: sub-k-word docs don't abort the query under ANSI") {
    // two docs shorter than k words have EMPTY shingle sets; the jaccard
    // denominator is then 0 and Spark 4's default ANSI mode turns an
    // unguarded 0.0/0.0 into a query-aborting DIVIDE_BY_ZERO
    val tiny = Seq(
      (1L, "hi there", 8L), (2L, "yo bro", 6L),
      (3L, "a proper document with plenty of words inside it", 48L)
    ).toDF("doc_id", "text", "n_chars")
    val pairs = Dedup.ngramJaccardPairs(tiny, lenCol = "n_chars", tol = 16,
      minJaccard = 0.1).collect()
    assert(!pairs.exists(r => Set(r.getLong(0), r.getLong(1)) == Set(1L, 2L)),
      "empty-shingle docs must not report similarity")
    // the between-frames variant shares the guard
    val between = Dedup.ngramJaccardPairsBetween(
      tiny.where(col("doc_id") === 1), tiny.where(col("doc_id") =!= 1),
      lenCol = "n_chars", tol = 16, minJaccard = 0.1).collect()
    assert(between.isEmpty)
  }

  test("corpusBloom: requested geometry survives past the runtime-filter clamps") {
    // Spark's BloomFilterAggregate clamps to the runtime-join-filter confs
    // (4M items / 67M bits by default); graft's BloomBuildAgg takes its
    // geometry as constructor values, so a build above those caps must
    // come back full-size, with the same geometry as an empty build —
    // with NO session confs touched (r9 inflated them around the build;
    // r10 removed that)
    import org.apache.spark.util.sketch.BloomFilter
    val items = 5000000L // > the 4M default clamp
    val corpus = Seq((1L, "seen doc")).toDF("doc_id", "text")
    val built = Dedup.corpusBloom(corpus, expectedItems = items, fpp = 0.01)
    val emptyBf = Dedup.corpusBloom(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      expectedItems = items, fpp = 0.01)
    def filter(bf: Array[Byte]) = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bf))
    // the Bloom formula's bit count for the REQUESTED item count; a build
    // clamped to 4M items would size for fewer bits
    val wantBits = math.ceil(-items * math.log(0.01) / (math.log(2) * math.log(2))).toLong
    assert(filter(built).bitSize() >= wantBits, s"bits=${filter(built).bitSize()} < $wantBits")
    assert(filter(built).isCompatible(filter(emptyBf)), "clamped vs unclamped geometry")
    val probe = Seq((1L, "seen doc"), (2L, "never seen")).toDF("doc_id", "text")
    val out = probe.select(col("doc_id"),
        Dedup.bloomMightContain(built, col("text")).as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L), "filter lost the corpus doc")
  }

  test("BloomBuildAgg: distributed build == single-threaded reference build, byte for byte") {
    // the partial/merge tree must be invisible in the output: inserting the
    // same hash set into a driver-built filter of the same geometry yields
    // the identical bitset (OR is order/partition-independent) and the
    // public codec serializes it identically — this is the parity law that
    // keeps the r9 sketch golden pins valid across the r10 move from
    // Spark's conf-clamped BloomFilterAggregate to graft's BloomBuildAgg
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val built = Dedup.corpusBloom(corpus)
    val expectedItems = 1L << 20
    val numBits = math.ceil(-expectedItems * math.log(1e-8)
      / (math.log(2) * math.log(2))).toLong
    val ref = org.apache.spark.util.sketch.BloomFilter.create(expectedItems, numBits)
    corpus.where(col("text").isNotNull)
      .select(xxhash64(col("text"))).collect().foreach(r => ref.putLong(r.getLong(0)))
    val out = new java.io.ByteArrayOutputStream()
    ref.writeTo(out)
    assert(java.util.Arrays.equals(built, out.toByteArray),
      "distributed bloom build diverged from the reference construction")
  }

  test("ngram jaccard: length blocking excludes far-apart lengths") {
    val out = Dedup.ngramJaccardPairs(docs, lenCol = "n_chars", tol = 5, minJaccard = 0.0)
    // doc3 (88 chars) is >5 from all others -> never compared
    assert(!out.collect().exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("resolveComponents: diameter-50 path and a cycle converge in ~log rounds, fail loud otherwise") {
    // a 51-node path has diameter 50: min-label propagation would need ~50
    // rounds; large-star/small-star must land it within O(log n) — assert
    // convergence inside a 10-round cap (2*log2(50) + slack)
    val n = 51
    val ids = (0L until n.toLong).toDF("doc_id")
    val pathEdges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val resolved = Dedup.resolveComponents(ids, pathEdges, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until n).forall(i => resolved(i.toLong) == 0L)) // one component, rep 0
    // cycles (no tree structure to exploit) must converge just as fast;
    // shuffled ids so the minimum sits mid-cycle, not at an endpoint
    val cyc = 40
    val perm = new scala.util.Random(7L).shuffle((0 until cyc).toVector)
    val cycEdges = (0 until cyc)
      .map(i => (perm(i).toLong + 100L, perm((i + 1) % cyc).toLong + 100L))
      .toDF("id_a", "id_b")
    val cycIds = (100L until (100L + cyc)).toDF("doc_id")
    val cycResolved = Dedup.resolveComponents(cycIds, cycEdges, maxRounds = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L until (100L + cyc)).forall(cycResolved(_) == 100L))
    // too few rounds must throw the loud convergence error, not return junk
    val err = intercept[IllegalArgumentException] {
      Dedup.resolveComponents(ids, pathEdges, maxRounds = 1).collect()
    }
    assert(err.getMessage.contains("converge"))
  }

  test("incrementalDedup: exact beats near-dup; unmatched batch docs keep") {
    // corpus: docs 1 (text A), 3 (text B); batch: 10 = exact copy of 1,
    // 11 = near-dup of 1, 12 = unrelated
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away home", 67L),
      (3L, "completely different words describing yet another unrelated subject entirely here today", 88L)
    ).toDF("doc_id", "text", "n_chars")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog and runs far away home", 67L),
      (11L, "the quick brown fox jumps over the lazy dog and runs far away now", 66L),
      (12L, "astronomy telescopes observe distant galaxies through clear mountain night skies", 81L)
    ).toDF("doc_id", "text", "n_chars")
    val out = Dedup.incrementalDedup(batch, corpus, lenCol = "n_chars", tol = 16, minJaccard = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2), !r.isNullAt(3))).toMap
    assert(out(10L) == (("drop_exact", 1L, false)))   // exact wins, no jaccard
    assert(out(11L) == (("drop_neardup", 1L, true)))  // arg-max corpus doc, jaccard present
    assert(out(12L) == (("keep", -1L, false)))
    assert(out.size == 3) // one decision per batch doc, corpus not echoed
  }

  test("bloomDedup: verdicts equal exact membership on the sf0.001 fixture") {
    // re-crawl shape of the x39 query: fresh mod-7 slice + id-shifted
    // copies of mod-5 docs (the fixture has no cross-slice exact dups)
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val incoming = docs.where(col("doc_id") % 7 === 0).select("doc_id", "text")
      .unionByName(docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val corpus = docs.where(col("doc_id") % 7 =!= 0)
    val got = Dedup.bloomDedup(incoming, corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dupIds = incoming.join(corpus.select("text"), Seq("text"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dupIds.nonEmpty && dupIds.size < got.size,
      "fixture should exercise both branches")
    got.foreach { case (id, action) =>
      assert(action == (if (dupIds(id)) "drop" else "keep"),
        s"doc $id: bloom said $action, exact membership says ${dupIds(id)}")
    }
  }

  test("frequentSpans equals the exact span count at any sketch quality") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    // exact truth: count word trigrams by string, keep >= 3
    val exact = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, greatest(size(ws) - 2, 0)), i -> array_join(slice(ws, i, 3), ' '))"))
        .as(Seq("p", "span")))
      .groupBy("span")
      .agg(count(lit(1)).as("n_occurrences"), countDistinct(col("doc_id")).as("n_docs"))
      .where(col("n_occurrences") >= 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture should contain frequent trigrams")
    // a good sketch and a deliberately terrible one (width ~4 counters,
    // massive overestimates) must BOTH return exactly the truth — the
    // one-sided-error + confirm-pass composition is exact by construction
    for (eps <- Seq(1e-5, 0.5)) {
      val got = TextStats.frequentSpans(docs, k = 3, minCount = 3, eps = eps)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == exact, s"eps=$eps: sketch path diverged from exact counts")
    }
  }

  test("bloomDedup: an EMPTY corpus keeps everything (null-sketch hardening)") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch = Seq((1L, "anything"), (2L, "at all")).toDF("doc_id", "text")
    val out = Dedup.bloomDedup(batch, corpus)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "keep", 2L -> "keep"))
  }

  test("frequentSpans: empty and span-free inputs return empty, not an error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextStats.frequentSpans(empty, k = 3, minCount = 1).count() == 0L)
    val short = Seq((1L, "one two")).toDF("doc_id", "text") // < k words: no spans
    assert(TextStats.frequentSpans(short, k = 3, minCount = 1).count() == 0L)
  }

  test("bloomDedup: a true duplicate is NEVER kept, even with a tiny sketch") {
    // 64 expected items / 10% fpp -> heavy false-positive pressure, but the
    // one-sided guarantee (no false negatives) must hold regardless
    val corpus = (1 to 200).map(i => (i.toLong, s"corpus doc number $i"))
      .toDF("doc_id", "text")
    val batch = (1 to 100).map(i => (1000L + i, s"corpus doc number ${i * 2}"))
      .toDF("doc_id", "text") // all 100 are true duplicates
    val kept = Dedup.bloomDedup(batch, corpus, expectedItems = 64, fpp = 0.1)
      .where(col("action") === "keep").count()
    assert(kept == 0L, s"$kept true duplicates slipped past the bloom filter")
  }

  test("duplicatedSpans: corpus-repeated 8-grams cut from every doc, word order kept") {
    val run = "one two three four five six seven eight"
    val df = Seq(
      (1L, s"$run alpha beta"),          // run at pos 1 -> words 1-8 covered
      (2L, s"zz $run yy"),               // run at pos 2 -> words 2-9 covered
      (3L, (1 to 10).map(i => s"u$i").mkString(" ")), // all unique, untouched
      (4L, "short doc"),                 // < 8 words: no spans, untouched
      (5L, s"$run $run")                 // internal repeat: fully covered
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(df, k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(1L) == ((10L, 1L, 8L, "alpha beta")))
    assert(out(2L) == ((10L, 1L, 8L, "zz yy")))
    assert(out(3L) == ((10L, 0L, 0L, (1 to 10).map(i => s"u$i").mkString(" "))))
    assert(out(4L) == ((2L, 0L, 0L, "short doc")))
    // doc 5: the 8-grams at pos 1 and 9 are both `run` (a WITHIN-doc
    // repeat); their spans [1,8] and [9,16] tile the doc, so every word
    // goes even though the 7 straddling 8-grams are unique
    assert(out(5L) == ((16L, 2L, 16L, "")))
    // decisions are partition-independent
    val again = Dedup.duplicatedSpans(df.repartition(7), k = 8)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(again == out.map { case (k, v) => k -> v._4 })
  }

  test("duplicatedSpans: CMS-prefiltered path == exact path at any sketch quality") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = Dedup.duplicatedSpans(docs, k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    // a deliberately terrible sketch must still be exact: estimate < 2
    // PROVES uniqueness (one-sided), the count confirm drops the rest
    for (eps <- Seq(1e-4, 0.5)) {
      val got = Dedup.duplicatedSpans(docs, k = 8, cmsEps = Some(eps))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSet
      assert(got == exact, s"eps=$eps: prefiltered path diverged")
    }
  }

  test("spanDecontaminate: verbatim eval k-grams mark train docs; clean docs keep") {
    val phrase = "the exact answer to benchmark question forty two" // 8 words
    val train = Seq(
      (1L, s"unrelated padding words go here then $phrase and then trailing text"),
      (2L, "totally clean document with fully original content nothing shared at all"),
      (3L, phrase) // the whole doc IS the eval span
    ).toDF("doc_id", "text")
    val eval = Seq((100L, s"prefix words before $phrase suffix after")).toDF("doc_id", "text")
    val out = Dedup.spanDecontaminate(train, eval, k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out.keySet == Set(1L, 2L, 3L)) // one row per train doc, always
    assert(out(2L)._2 == 0L && out(2L)._4 == 1L) // clean -> keep
    assert(out(1L)._2 == 1L && out(1L)._3 == 8L && out(1L)._4 == 0L) // one span, 8 covered
    assert(out(3L) == ((8L, 1L, 8L, 0L))) // exact-span doc fully covered
    // eval side shorter than k contributes nothing
    val out2 = Dedup.spanDecontaminate(train, Seq((200L, "too short")).toDF("doc_id", "text"))
    assert(out2.where(col("keep") === 0).isEmpty)
  }

  test("collapseComponents: longest member survives with component mass") {
    // component {1,2,5}: weights 10, 30, 30 -> 2 wins (weight tie, smaller id);
    // singletons 3, 4 survive as themselves
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 7L), (4L, 9L), (5L, 30L))
      .toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 5L)).toDF("id_a", "id_b")
    val out = Dedup.collapseComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(2L -> ((3L, 70L)), 3L -> ((1L, 7L)), 4L -> ((1L, 9L))))
    // pairless corpus: everyone survives as a singleton
    val solo = Dedup.collapseComponents(docs, pairs.limit(0))
    assert(solo.count() == 5 && solo.where(col("n_members") =!= 1).isEmpty)
  }
}

class PackingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkDocs(n: Int) =
    (0L until n.toLong).map(i => (i, 10 + (i % 37).toInt)).toDF("doc_id", "n_tok")

  test("packing: deterministic, partition-independent, every doc assigned once") {
    val docs = mkDocs(300)
    val a = Packing.packSequences(docs, col("n_tok"), maxTokens = 128, nBuckets = 4, key = "doc_id")
      .select("doc_id", "bucket", "seq_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val b = Packing.packSequences(docs.repartition(7), col("n_tok"), maxTokens = 128, nBuckets = 4, key = "doc_id")
      .select("doc_id", "bucket", "seq_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(a == b)           // layout-independent assignment
    assert(a.size == 300)    // exactly one decision per doc
  }

  test("chunking: overlapping windows cover every word, short docs get one chunk") {
    val words = (1 to 50).map(i => s"w$i")
    val df = Seq((1L, words.mkString(" ")), (2L, "tiny doc")).toDF("doc_id", "text")
    val out = Packing.chunkDocuments(df, chunkTokens = 32, stride = 24)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val doc1 = out.filter(_._1 == 1L).sortBy(_._2)
    // ceil((50 - 8) / 24) = 2 chunks: [w1..w32], [w25..w50]
    assert(doc1.map(_._2).toSeq == Seq(0L, 1L))
    assert(doc1(0)._4.startsWith("w1 ") && doc1(0)._4.endsWith(" w32") && doc1(0)._3 == 32L)
    assert(doc1(1)._4.startsWith("w25 ") && doc1(1)._4.endsWith(" w50") && doc1(1)._3 == 26L)
    // consecutive chunks overlap by chunkTokens - stride = 8 words
    assert(doc1(0)._4.split(" ").toSet.intersect(doc1(1)._4.split(" ").toSet).size == 8)
    // every word of the doc appears in some chunk
    assert(doc1.flatMap(_._4.split(" ")).toSet == words.toSet)
    // short doc: exactly one chunk, the doc itself
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 2L, "tiny doc")))
  }

  test("packing: sequences fill contiguously and overflow only by their first doc") {
    val out = Packing.packSequences(mkDocs(300), col("n_tok"), maxTokens = 128, nBuckets = 4, key = "doc_id")
      .select("bucket", "seq_id", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val bySeq = out.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sum).toMap
    // chunked-cumsum bound: a sequence exceeds maxTokens by < its first
    // doc's tokens; with all docs <= 46 tokens, total < 128 + 46
    assert(bySeq.values.forall(_ < 128 + 46))
    // all but the final sequence of each bucket must be near-full: chunked
    // cumsum leaves no internal gaps (sum > maxTokens - next doc size)
    for ((bucket, seqs) <- bySeq.groupBy(_._1._1)) {
      val last = seqs.keys.map(_._2).max
      assert(seqs.collect { case ((_, s), tot) if s != last => tot }.forall(_ >= 128 - 46))
      // seq ids are contiguous from 0
      assert(seqs.keys.map(_._2).toSet == (0L to last).toSet)
    }
  }
}

class SimSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0), // closest to 0
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.9f, 0.2f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f), 0) // opposite of 0
  ).toDF("vec_id", "embedding", "label")

  test("int8 quantization: tinyint codes in [-127,127], reconstruction within bound") {
    val out = SimSearch.quantizeInt8(vecs).select("vec_id", "embedding", "q_scale", "q_vec")
      .collect()
    assert(out.length == vecs.count())
    out.foreach { r =>
      val v = r.getSeq[Float](1)
      val scale = r.getDouble(2)
      val q = r.getSeq[Byte](3)
      assert(q.forall(b => b >= -127 && b <= 127))
      // per-element reconstruction error <= half a quantization step
      v.zip(q).foreach { case (x, b) =>
        assert(math.abs(x - b / scale) <= 0.5 / scale + 1e-9, s"vec ${r.getLong(0)}")
      }
      // the max-magnitude element uses the full code range
      assert(q.map(b => math.abs(b.toInt)).max == 127)
    }
  }

  test("brute-force top-k: correct neighbor order, self excluded") {
    val q = vecs.where(col("vec_id") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = SimSearch.bruteTopK(q, vecs, k = 2).orderBy("rank").collect()
    assert(out.length == 2)
    assert(out(0).getLong(out(0).fieldIndex("neighbor_id")) == 1L) // cos ~0.994
    assert(out(0).getDouble(out(0).fieldIndex("cos")) > 0.99)
    assert(out.forall(_.getLong(out(0).fieldIndex("neighbor_id")) != 0L))
  }

  test("near-dup pairs within label blocking") {
    val pairs = SimSearch.nearDupPairs(vecs, "label", minCos = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs((0L, 1L)) && pairs((2L, 3L)))
    assert(!pairs((0L, 4L))) // same label but cosine -1
  }

  test("ivf top-k: finds self for corpus-identical queries and beats its probe floor") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("q_id"), col("embedding").as("q_vec"))
    val top1 = SimSearch.ivfTopK(q, e, k = 1, nCells = 16, nProbe = 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    (0 until 5).foreach { i =>
      // an identical vector's own cell is always its top probe -> must find itself
      val (nn, cos) = top1(10000L + i)
      assert(nn == i.toLong, s"query $i: expected its source vector, got $nn")
      assert(math.abs(cos - 1.0) < 1e-6)
    }
    // candidates are ranked exactly: each returned neighbor's cosine is the
    // true cosine (checked against a brute-force computation of that pair)
    val full = SimSearch.ivfTopK(q, e, k = 3, nCells = 16, nProbe = 4).collect()
    assert(full.nonEmpty && full.forall(r => r.getDouble(3) <= 1.0 + 1e-9))
  }

  test("lsh: a prebuilt index (incl. bucketed on disk) answers like direct lshTopK") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val direct = asSet(SimSearch.lshTopK(q, e, k = 3))
    val idx = SimSearch.lshIndex(e)
    assert(asSet(SimSearch.lshTopKFromIndex(q, idx, k = 3)) == direct)

    // the deployment path: index persisted bucketed by (tbl, bucket), so
    // query batches probe co-located buckets with no corpus re-hash
    idx.write.mode("overwrite").bucketBy(8, "tbl", "bucket").sortBy("tbl", "bucket")
      .option("path", java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString)
      .saveAsTable("lsh_idx")
    assert(asSet(SimSearch.lshTopKFromIndex(q, spark.table("lsh_idx"), k = 3)) == direct)
  }

  test("lsh index maintenance: appending a batch's index rows == full rebuild") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // corpus indexed yesterday; today's batch appended WITHOUT re-hashing it
    val base = java.nio.file.Files.createTempDirectory("graft_lsh_append").toString
    SimSearch.lshIndex(e.where(col("vec_id") >= 10)).write.mode("overwrite")
      .bucketBy(8, "tbl", "bucket").sortBy("tbl", "bucket")
      .option("path", s"$base/lsh_idx_m").saveAsTable("lsh_idx_m")
    // same bucket spec as the original write
    SimSearch.lshIndex(e.where(col("vec_id") < 10)).write.mode("append")
      .bucketBy(8, "tbl", "bucket").sortBy("tbl", "bucket")
      .option("path", s"$base/lsh_idx_m").saveAsTable("lsh_idx_m")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val maintained = asSet(SimSearch.lshTopKFromIndex(q, spark.table("lsh_idx_m"), k = 3))
    val rebuilt = asSet(SimSearch.lshTopKFromIndex(q, SimSearch.lshIndex(e), k = 3))
    assert(maintained == rebuilt)
  }

  test("cell-blocked near-dup: identical pairs always collide; fixture recall clears gate") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // exact truth over the full fixture (all-pairs is fine at sf0.001)
    val en = e.withColumn("__n", SimSearch.norm(col("embedding")))
    val truth = en.as("a").join(en.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", SimSearch.dot(col("a.embedding"), col("b.embedding"))
        / (col("a.__n") * col("b.__n")))
      .where(col("cos") >= 0.25)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = SimSearch.nearDupPairsByCell(e, minCos = 0.25).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives: every found pair is a true pair (cos re-checked
    // exactly inside the operator)
    assert((found -- truth).isEmpty)
    val recall = (found intersect truth).size.toDouble / truth.size
    info(f"cell-blocked near-dup recall on loose fixture pairs: $recall%.3f (n_true=${truth.size})")
    assert(recall >= 0.5, s"recall $recall below gate")
    // a vector duplicated under a new id shares its top cell with its
    // source by construction -> the pair MUST be found
    val dup = e.where(col("vec_id") === 0)
      .select((col("vec_id") + 90000L).as("vec_id"), col("embedding"), col("label"))
    val withDup = e.unionByName(dup)
    val dupPairs = SimSearch.nearDupPairsByCell(withDup, minCos = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.contains((0L, 90000L)))
  }

  test("filtered search: predicate honored, exhaustive filtered probe == filtered brute force") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val pred = col("label") % 3 === 0
    val allowed = e.where(pred).select("vec_id").collect().map(_.getLong(0)).toSet
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val truth = asSet(SimSearch.bruteTopKFiltered(q, e, k = 5, pred))
    assert(truth.nonEmpty && truth.forall { case (_, n, _) => allowed(n) })
    // nProbe = nCells means every cell is probed: the pre-filtered probe
    // must reproduce the exact filtered top-k, proving the predicate cuts
    // candidates, never truth
    val (cells, centroids) = SimSearch.ivfIndex(e, nCells = 8)
    val exhaustive = asSet(SimSearch.ivfTopKFromIndexFiltered(
      q, cells, centroids, k = 5, pred, nProbe = 8))
    assert(exhaustive == truth)
    // a partial probe still returns only predicate-satisfying neighbors
    val partial = asSet(SimSearch.ivfTopKFromIndexFiltered(
      q, cells, centroids, k = 5, pred, nProbe = 4))
    assert(partial.forall { case (_, n, _) => allowed(n) })
  }

  test("ivf: a prebuilt bucketed on-disk cell index answers like direct ivfTopK") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = asSet(SimSearch.ivfTopK(q, e, k = 3, nCells = 16, nProbe = 4))
    val (cells, centroids) = SimSearch.ivfIndex(e, nCells = 16)
    cells.write.mode("overwrite").bucketBy(8, "cell").sortBy("cell")
      .option("path", java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString)
      .saveAsTable("ivf_cells")
    assert(asSet(SimSearch.ivfTopKFromIndex(
      q, spark.table("ivf_cells"), centroids, k = 3, nProbe = 4)) == direct)
  }

  test("quantized serving: a prebuilt bucketed on-disk index answers like the direct path") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = asSet(SimSearch.quantizedTopK(q, e, k = 3))
    SimSearch.lshIndexQuantized(e).write.mode("overwrite")
      .bucketBy(8, "tbl", "bucket").sortBy("tbl", "bucket")
      .option("path", java.nio.file.Files.createTempDirectory("graft_q_idx").toString)
      .saveAsTable("q_idx")
    assert(asSet(SimSearch.quantizedTopKFromIndex(
      q, spark.table("q_idx"), e, k = 3)) == direct)
  }

  test("int8 dot product: codegen expression equals the interpreted zip_with form") {
    val rnd = new scala.util.Random(7)
    // Seq[Byte], not Array[Byte] — Array[Byte] encodes as BINARY, and the
    // expression (like the quantized index) wants array<tinyint>
    val rows = Seq.fill(20)((
      Seq.fill(64)((rnd.nextInt(255) - 127).toByte),
      Seq.fill(64)((rnd.nextInt(255) - 127).toByte)))
    val df = rows.toDF("a", "b")
    val out = df.select(
      graft.functions.Int8DotProduct(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("long") * y.cast("long")),
        lit(0L), (acc, x) => acc + x).as("slow"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // and via the SQL surface
    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("int8_pairs")
    val sqlOut = spark.sql("SELECT int8_dot_product(a, b) AS d FROM int8_pairs").collect()
    assert(sqlOut.map(_.getLong(0)).toSeq == out.map(_.getLong(0)).toSeq)
  }

  test("quantized serving: int8 candidate scores track exact cosine; recall clears the gate") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val truth = SimSearch.bruteTopK(q, e, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = SimSearch.quantizedTopK(q, e, k = 5).collect()
    val found = served.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect found).size.toDouble / truth.size
    assert(recall >= 0.6, s"quantized serving recall $recall below gate")
    // the re-rank is EXACT: every returned cosine matches a brute-force
    // recomputation of that pair (quantization never touches final scores)
    val brute = SimSearch.bruteTopK(q, e, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    served.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(math.abs(r.getDouble(3) - brute(key)) < 1e-9,
        s"pair $key: served cos ${r.getDouble(3)} != exact ${brute(key)}")
    }
  }

  test("lsh top-k: a near-duplicate query lands in its source's bucket (the LSH contract)") {
    // Random-hyperplane LSH promises recall for TIGHT neighbors (cos ~ 1):
    // an identical vector hashes to the identical bucket, so its source must
    // come back as the rank-1 hit with cos = 1. (Loose neighbors — this
    // fixture's max pairwise cos is ~0.5 — are exactly what the brute-force
    // tier is for.)
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 5)
      .select((col("vec_id") + 10000L).as("q_id"), col("embedding").as("q_vec"))
    val top1 = SimSearch.lshTopK(q, e, k = 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    (0 until 5).foreach { i =>
      val (nn, cos) = top1(10000L + i)
      assert(nn == i.toLong, s"query $i: expected its source vector, got $nn")
      assert(math.abs(cos - 1.0) < 1e-6)
    }
  }

  test("pq: codes deterministic and partition-independent; null/ragged rows drop") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = SimSearch.pqTrain(e, m = 8, ksub = 16)
    assert(cb.length == 8 && cb.forall(_.nonEmpty) && cb.forall(_.forall(_.length == 8)))
    def codesOf(df: org.apache.spark.sql.DataFrame) =
      SimSearch.pqEncode(df, cb).collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    val once = codesOf(e)
    assert(once.size == e.count())
    // layout independence: same codes from a 7-way repartition
    assert(codesOf(e.repartition(7)) == once)
    // every code addresses a real centroid
    assert(once.values.forall(c => c.length == 8 && c.forall(b => (b & 0xFF) < 16)))
    // a null element poisons its row's code to null (row drops), a ragged
    // (wrong-dim) vector likewise — neither can be served, neither NPEs
    val bad = Seq(
      (90001L, Array[java.lang.Float](1.0f, null)),
      (90002L, Array[java.lang.Float](1.0f, 2.0f, 3.0f))
    ).toDF("vec_id", "embedding")
    assert(SimSearch.pqEncode(bad, cb).isEmpty)
  }

  test("pq: ADC score == driver-recomputed LUT lookups (the asymmetric-distance law)") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = SimSearch.pqTrain(e, m = 8, ksub = 16)
    val ksub = cb(0).length
    val q = e.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val luts = q.select(col("q_id"), graft.functions.PqLut(col("q_vec"), cb).as("lut"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // LUT entries are the squared L2 distances between the unit query
    // subvector and each centroid — recompute entry (j=0, c) on the driver
    val qv = q.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    luts.foreach { case (id, lut) =>
      assert(lut.length == cb.length * ksub)
      val v = qv(id)
      val n = math.max(math.sqrt(v.map(x => x * x).sum), 1e-12)
      val dsub = v.length / cb.length
      (0 until ksub).foreach { c =>
        val want = (0 until dsub).map { t =>
          val d = v(t) / n - cb(0)(c)(t); d * d
        }.sum
        assert(math.abs(lut(c) - want) < 1e-12, s"lut($id)(0,$c)")
      }
    }
    // the scored join's ADC value is exactly sum_j lut[j*ksub + code_j]
    val codes = SimSearch.pqEncode(e, cb)
    val scored = codes.crossJoin(
        q.select(col("q_id"), graft.functions.PqLut(col("q_vec"), cb).as("lut")))
      .select(col("q_id"), col("vec_id"),
        graft.functions.PqAdcScore(col("lut"), col("pq_code")).as("adist"),
        col("pq_code"))
      .collect()
    scored.foreach { r =>
      val lut = luts(r.getLong(0))
      val code = r.getAs[Array[Byte]](3)
      val want = code.indices.map(j => lut(j * ksub + (code(j) & 0xFF))).sum
      assert(math.abs(r.getDouble(2) - want) < 1e-12)
    }
  }

  test("pq: ADC rejects a nullable-element lut at analysis (null cells must not score as 0)") {
    // PqLut output is containsNull=false, so production paths never hit
    // this; a HAND-built lut with nullable elements used to read null cells
    // as 0.0 (a silently wrong distance) — now it fails analysis loudly.
    val df = Seq((1L, Array[Byte](0))).toDF("id", "code")
      .withColumn("lut", array(lit(1.0), when(col("id") < 0L, 2.0))) // containsNull=true
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.functions.PqAdcScore(col("lut"), col("code"))).collect()
    }
    assert(err.getMessage.contains("non-nullable"), err.getMessage)
  }

  test("pq: codes persisted to parquet serve identically to the direct path") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cb = SimSearch.pqTrain(e)
    val q = e.where(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = asSet(SimSearch.pqTopK(q, e, k = 3))
    // the deployment path: the code index is built once and persisted;
    // binary codes round-trip parquet byte-exactly, and the serving scan
    // reads only (vec_id, pq_code) — never the float vectors
    val path = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    SimSearch.pqEncode(e, cb).write.mode("overwrite").parquet(path)
    assert(asSet(SimSearch.pqTopKFromIndex(q,
      spark.read.parquet(path), e, cb, k = 3)) == direct)
  }

  test("ivf+pq: composed cell-probe + ADC recall clears the gate; re-rank exact") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val truth = SimSearch.bruteTopK(q, e, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = SimSearch.ivfPqTopK(q, e, k = 5).collect()
    val found = served.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect found).size.toDouble / truth.size
    assert(recall >= 0.6, s"ivf+pq recall $recall below gate")
    info(s"ivf+pq recall@5: $recall")
    // exhaustive probe degenerates to the PQ-only path's candidate set:
    // with nProbe = nCells every row is ADC-scored, so the top-k must
    // equal pqTopK's (same codebooks, same re-rank)
    val allCells = SimSearch.ivfPqTopK(q, e, k = 5, nCells = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val pqOnly = SimSearch.pqTopK(q, e, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(allCells == pqOnly, "nProbe=nCells IVF+PQ must equal the exhaustive PQ scan")
  }

  test("pq serving: recall clears the gate; the float re-rank is exact") {
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val truth = SimSearch.bruteTopK(q, e, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = SimSearch.pqTopK(q, e, k = 5).collect()
    val found = served.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect found).size.toDouble / truth.size
    assert(recall >= 0.6, s"pq serving recall $recall below gate")
    // final scores never come from the compressed codes (x24b discipline)
    val brute = SimSearch.bruteTopK(q, e, k = 1000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    served.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(math.abs(r.getDouble(3) - brute(key)) < 1e-9,
        s"pair $key: served cos ${r.getDouble(3)} != exact ${brute(key)}")
    }
  }
}

class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  test("hash sampling: deterministic, partition-independent, near the rate") {
    def sample(df: org.apache.spark.sql.DataFrame, salt: String = "") =
      df.where(Sampling.hashUnit(col("doc_id"), salt) < 0.3)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = sample(docs)
    // identical selection regardless of layout (repartition then resample)
    val b = sample(docs.repartition(7))
    assert(a == b)
    val n = docs.count().toDouble
    assert(math.abs(a.size / n - 0.3) < 0.1) // binomial tolerance at 500 docs
    // a different salt draws an independent stream
    val c = sample(docs, salt = "other")
    assert(c != a)
  }

  test("datasetCard: complete cells, layout-independent checksum, changed cell flips") {
    val card = Sampling.datasetCard(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // every doc lands in exactly one cell
    assert(card.values.map(_._1).sum == docs.count())
    // checksum independent of partition layout and row order
    val again = Sampling.datasetCard(docs.repartition(7).sortWithinPartitions("n_chars"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(again == card)
    // editing ONE doc's text flips exactly the checksums of its cell
    val edited = docs.withColumn("text",
      when(col("doc_id") === 7, concat(col("text"), lit(" tampered")))
        .otherwise(col("text")))
    val diff = Sampling.datasetCard(edited)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      .filter { case (k, v) => card(k)._3 != v._3 }
    assert(diff.size == 1, s"expected one flipped cell, got ${diff.keys}")
  }

  test("capPerGroup: hard cap per group, hash-order prefix, layout-independent") {
    val capped = Sampling.capPerGroup(docs, "source", cap = 40, key = "doc_id")
    val perSource = capped.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perSource.values.forall(_ <= 40L))
    // every source larger than the cap is cut to EXACTLY the cap
    val sizes = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      assert(perSource.getOrElse(s, 0L) == math.min(n, 40L), s"source $s")
    }
    // identical survivors regardless of partition layout
    val a = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.capPerGroup(docs.repartition(7), "source", 40, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // survivors are the hashUnit-order prefix of each group
    val firstBySource = docs
      .withColumn("__u", Sampling.hashUnit(col("doc_id"), "cap"))
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("__u")))
      .groupBy(_._1).view.mapValues(_.sortBy(t => (t._3, t._2)).take(40).map(_._2).toSet)
    firstBySource.foreach { case (s, ids) =>
      val got = capped.where(col("source") === s)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == ids, s"source $s survivors are not the hash-order prefix")
    }
  }

  test("sampleWeighted: exact n, layout-independent, E-S reference match, " +
    "weight dominance, degenerate inputs") {
    val sel = Sampling.sampleWeighted(docs, 100, col("n_chars"), "doc_id")
    val a = sel.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a.size == 100)
    // identical selection regardless of partition layout
    val b = Sampling.sampleWeighted(docs.repartition(7), 100, col("n_chars"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    // matches a driver-side reference implementation of E-S top-n exactly
    val ref = docs.select("doc_id", "n_chars")
      .withColumn("__u", Sampling.hashUnit(col("doc_id"), "es"))
      .collect()
      .filter(r => !r.isNullAt(1) && r.getLong(1) > 0)
      .map(r => (math.log(r.getDouble(2)) / r.getLong(1), r.getLong(0)))
      .sortBy { case (pri, id) => (-pri, id) }.take(100).map(_._2).toSet
    assert(a == ref)
    // n >= eligible rows keeps every eligible row
    assert(Sampling.sampleWeighted(docs, 100000, col("n_chars"), "doc_id").count()
      == docs.where(col("n_chars").isNotNull && col("n_chars") > 0).count())
    // null / non-positive weights carry no mass
    val dead = docs.withColumn("w",
      when(col("doc_id") % 2 === 0, lit(null).cast("int")).otherwise(lit(-3)))
    assert(Sampling.sampleWeighted(dead, 10, col("w"), "doc_id").count() == 0)
    // 10000x heavier rows crowd out light ones (u^(1/w) -> 1 as w grows):
    // 250 heavy docs vs 250 light, take 100 -> expect essentially all heavy
    val skewed = docs.withColumn("w",
      when(col("doc_id") < 250, lit(10000)).otherwise(lit(1)))
    val heavyKept = Sampling.sampleWeighted(skewed, 100, col("w"), "doc_id")
      .where(col("doc_id") < 250).count()
    assert(heavyKept >= 95, s"only $heavyKept of 100 survivors were heavy-weight")
    intercept[IllegalArgumentException] {
      Sampling.sampleWeighted(docs, 0, col("n_chars"), "doc_id")
    }
  }

  test("sampleWeightedPerGroup: per-group cap exact, weighted prefix per group, " +
    "layout-independent") {
    val capped = Sampling.sampleWeightedPerGroup(docs, "source", 20,
      col("n_chars"), "doc_id")
    val sizes = docs.where(col("n_chars") > 0).groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = capped.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sizes.foreach { case (s, n) =>
      assert(kept.getOrElse(s, 0L) == math.min(n, 20L), s"source $s")
    }
    // survivors are each group's top-n by the SAME E-S priority as the
    // global sampler (one decision stream, two compositions)
    val ref = docs.select("doc_id", "source", "n_chars")
      .withColumn("__u", Sampling.hashUnit(col("doc_id"), "es"))
      .collect()
      .filter(r => !r.isNullAt(2) && r.getLong(2) > 0)
      .map(r => (r.getString(1), math.log(r.getDouble(3)) / r.getLong(2), r.getLong(0)))
      .groupBy(_._1).view
      .mapValues(_.sortBy { case (_, pri, id) => (-pri, id) }.take(20).map(_._3).toSet)
      .toMap
    val got = capped.select("doc_id", "source").collect()
      .groupBy(_.getString(1)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    assert(got == ref)
    val again = Sampling.sampleWeightedPerGroup(docs.repartition(7), "source",
      20, col("n_chars"), "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == got.values.flatten.toSet)
  }

  test("stratified rates: rate-1.0 stratum complete, rate-0 stratum empty") {
    val out = Sampling.sampleStratified(docs, "source",
      rates = Map("src0" -> 1.0, "src1" -> 0.0), defaultRate = 0.5, key = "doc_id")
    val bySource = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource("src0") == full("src0"))
    assert(!bySource.contains("src1"))
  }

  test("token budget: under-budget strata keep everything; over-budget lands near budget") {
    // stratum "big": 200 docs x 10 tokens = 2000 total, budget 500 -> p = 0.25
    // stratum "small": 5 docs x 10 tokens = 50 total -> threshold 1.0, all kept
    val df = ((0L until 200L).map(i => (i, "big", Seq.fill(10)("w").mkString(" "))) ++
      (200L until 205L).map(i => (i, "small", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val kept = Sampling.sampleByTokenBudget(df, "source",
      TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
      .select("doc_id", "source", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(kept.count(_._2 == "small") == 5) // threshold clamps at 1.0
    val bigTokens = kept.filter(_._2 == "big").map(_._3).sum
    assert(bigTokens > 200 && bigTokens < 800, s"kept $bigTokens of budget 500")
    // deterministic under a different partition layout
    val again = Sampling.sampleByTokenBudget(df.repartition(7), "source",
      TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("exact token budget: hard cap never exceeded; hash-prefix selection; partition-independent") {
    // "big": 200 docs x 10 tokens = 2000 total vs budget 500 -> exactly 50
    // docs (500/10) survive the cumsum cutoff; "small": 50 total, all kept
    val df = ((0L until 200L).map(i => (i, "big", Seq.fill(10)("w").mkString(" "))) ++
      (200L until 205L).map(i => (i, "small", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val kept = Sampling.sampleByTokenBudgetExact(df, "source",
      TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
      .select("doc_id", "source", "n_tokens", "cum_tokens").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(kept.count(_._2 == "small") == 5)
    val big = kept.filter(_._2 == "big")
    assert(big.map(_._3).sum == 500L) // exact, not "near": 50 docs x 10
    assert(big.map(_._4).max == 500L) // inclusive cumsum stops AT the budget
    // the selection is the lowest-hash prefix: every kept doc hashes below
    // every dropped doc of the same stratum
    val hashes = df.select(col("doc_id"),
      Sampling.hashUnit(col("doc_id"), "budget").as("u"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keptBig = big.map(_._1).toSet
    val dropMin = (0L until 200L).filterNot(keptBig).map(hashes).min
    assert(keptBig.forall(hashes(_) < dropMin))
    // deterministic under a different partition layout
    val again = Sampling.sampleByTokenBudgetExact(df.repartition(7), "source",
      TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("exact token budget: two-phase prefix sum == single-window reference") {
    // varied token masses across 3 strata; the reference is the naive ONE
    // window per stratum the two-phase implementation replaced — row sets
    // AND cum_tokens must agree exactly
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    val df = (0L until 300L)
      .map(i => (i, s"s${i % 3}", Seq.fill(1 + rnd.nextInt(12))("w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val got = Sampling.sampleByTokenBudgetExact(df, "source",
      TextStats.tokenCount(col("text")), budgetTokens = 400.0, key = "doc_id")
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = Window.partitionBy(col("source"))
      .orderBy(Sampling.hashUnit(col("doc_id"), "budget"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.withColumn("n_tokens", TextStats.tokenCount(col("text")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= 400.0)
      .select("doc_id", "cum_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == ref)
  }

  test("temperature mixing: smallest stratum keeps all; alpha=0.5 lands near sqrt mass") {
    // big: 500 x 10 = 5000 tokens, small: 5 x 10 = 50 -> rate_big =
    // sqrt(50/5000) = 0.1, expected kept big mass = sqrt(50 * 5000) = 500
    val df = ((0L until 500L).map(i => (i, "big", Seq.fill(10)("w").mkString(" "))) ++
      (500L until 505L).map(i => (i, "small", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val kept = Sampling.sampleByTemperature(df, "source",
      TextStats.tokenCount(col("text")), alpha = 0.5, key = "doc_id")
      .select("doc_id", "source", "n_tokens", "keep_rate").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(kept.count(_._2 == "small") == 5)              // rate exactly 1.0
    assert(kept.filter(_._2 == "small").forall(_._4 == 1.0))
    assert(kept.filter(_._2 == "big").forall(_._4 == 0.1)) // sqrt(0.01) exact
    val bigTokens = kept.filter(_._2 == "big").map(_._3).sum
    assert(bigTokens > 250 && bigTokens < 750, s"kept $bigTokens of expected ~500")
    // alpha = 1.0 is natural proportions: everything kept
    val natural = Sampling.sampleByTemperature(df, "source",
      TextStats.tokenCount(col("text")), alpha = 1.0, key = "doc_id")
    assert(natural.count() == 505L)
    // deterministic under a different partition layout
    val again = Sampling.sampleByTemperature(df.repartition(7), "source",
      TextStats.tokenCount(col("text")), alpha = 0.5, key = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_._1).toSet)
  }

  test("upsampleToBudget: guaranteed epochs, expected mass, epoch indexes dense") {
    // tiny: 4 docs x 10 tokens = 40 -> f = 100/40 = 2.5 (2 guaranteed
    // copies + p=0.5 third); big: 100 x 10 = 1000 -> f = 0.1 (downsample)
    val df = ((0L until 4L).map(i => (i, "tiny", Seq.fill(10)("w").mkString(" "))) ++
      (100L until 200L).map(i => (i, "big", Seq.fill(10)("w").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val out = Sampling.upsampleToBudget(df, "source",
      TextStats.tokenCount(col("text")), budgetTokens = 100.0, key = "doc_id")
      .select("doc_id", "source", "n_tokens", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // every tiny doc appears at least floor(2.5) = 2 times, at most 3
    val tinyCopies = out.filter(_._2 == "tiny").groupBy(_._1).map(_._2.length)
    assert(tinyCopies.size == 4 && tinyCopies.forall(c => c == 2 || c == 3))
    // epochs are dense 0..n-1 per doc (a trainer can interleave on them)
    out.groupBy(r => (r._1, r._2)).foreach { case (_, copies) =>
      assert(copies.map(_._4).sorted.toSeq == (0 until copies.length))
    }
    // expected mass: tiny lands in [2,3] epochs x 40 = [80,120]; big is
    // binomial(100, 0.1) x 10 — wide bounds, deterministic draw
    val tinyMass = out.filter(_._2 == "tiny").map(_._3).sum
    assert(tinyMass >= 80 && tinyMass <= 120, s"tiny mass $tinyMass")
    val bigMass = out.filter(_._2 == "big").map(_._3).sum
    assert(bigMass > 20 && bigMass < 250, s"big mass $bigMass")
    // partition-independent multiset
    val again = Sampling.upsampleToBudget(df.repartition(7), "source",
      TextStats.tokenCount(col("text")), budgetTokens = 100.0, key = "doc_id")
      .select("doc_id", "source", "n_tokens", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(again.sorted.toSeq == out.sorted.toSeq)
  }

  test("upsampleToBudget: a zero-token stratum emits nothing instead of exploding") {
    // f = budget/0 is infinite; the guard must drop the stratum (the
    // oracle's x/0 -> NULL path), never build an astronomic epoch range
    val df = Seq(
      (1L, "zero", 0L), (2L, "zero", 0L),
      (3L, "real", 4L)
    ).toDF("doc_id", "source", "ntok")
    val out = Sampling.upsampleToBudget(df, "source",
      col("ntok"), budgetTokens = 100.0, key = "doc_id")
      .select("doc_id", "source", "epoch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.forall(_._2 == "real"), s"zero-token stratum leaked: ${out.toSeq}")
    assert(out.length == 25, s"real stratum should emit f = 100/4 = 25 epochs, got ${out.length}")
    assert(out.map(_._3).sorted.toSeq == (0 until 25)) // dense epochs, one doc
  }

  test("upsampleToBudget: an absurd copy count fails loudly, never int-wraps to silence") {
    // budget 1e10 over a 4-token stratum -> floor(f) ~ 2.5e9, beyond any
    // real recipe; the old int cast wrapped negative and silently dropped
    // the stratum — now it must raise, naming the limit
    val df = Seq((1L, "tiny", 4L)).toDF("doc_id", "source", "ntok")
    val e = intercept[Exception] {
      Sampling.upsampleToBudget(df, "source", col("ntok"),
        budgetTokens = 1e10, key = "doc_id").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("maxEpochs"),
      s"expected a loud maxEpochs failure, got: ${e.getMessage}")
    // and a legitimately large-but-sane recipe passes when the cap is raised
    val ok = Sampling.upsampleToBudget(df, "source", col("ntok"),
      budgetTokens = 8000.0, key = "doc_id", maxEpochs = 5000L)
    assert(ok.count() == 2000L) // f = 8000/4 = 2000 exact epochs
  }

  test("upsampleToBudget: null keys emit no rows (not a raise); oversized maxEpochs rejected") {
    import org.apache.spark.sql.functions.lit
    // a null key's draw is null -> null copy count -> zero rows, matching
    // the oracle's NULL arithmetic and every sibling sampler; the guard
    // must not fire on it
    val df = Seq((Some(1L), "s", 10L), (None, "s", 10L))
      .toDF("doc_id", "source", "ntok")
    val out = Sampling.upsampleToBudget(df, "source", col("ntok"),
      budgetTokens = 20.0, key = "doc_id").select("doc_id").collect()
    assert(out.forall(!_.isNullAt(0)), "null-key row leaked into the output")
    // maxEpochs beyond Int.MaxValue would re-open the silent int-wrap hole
    val e = intercept[IllegalArgumentException] {
      Sampling.upsampleToBudget(df, "source", col("ntok"),
        budgetTokens = 20.0, key = "doc_id", maxEpochs = 3000000000L)
    }
    assert(e.getMessage.contains("maxEpochs"))
    // leakage-guard: split fractions that empty the test split are rejected
    val e2 = intercept[IllegalArgumentException] {
      Sampling.withSplit(df, "doc_id", trainFrac = 0.8, valFrac = 0.3)
    }
    assert(e2.getMessage.contains("split fractions"))
  }

  test("upsampleToBudget: f <= 1 degenerates to sampleByTokenBudget's selection") {
    // same budget, same salt -> the fractional-epoch draw IS the
    // keep-with-probability-f draw, so the selected doc sets must agree
    val down = Sampling.sampleByTokenBudget(docs, "source",
      TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val up = Sampling.upsampleToBudget(docs, "source",
      TextStats.tokenCount(col("text")), budgetTokens = 500.0, key = "doc_id")
      .select("doc_id", "epoch").collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(up.map(_._1).toSet == down)
    assert(up.forall(_._2 == 0), "f <= 1 must never emit a second epoch")
  }

  test("split: exhaustive, exclusive, stable under re-evaluation") {
    val s1 = Sampling.withSplit(docs, "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Sampling.withSplit(docs.repartition(5), "doc_id", 0.8, 0.1)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2) // same doc -> same split, always
    assert(s1.size == docs.count())
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(s1.values.count(_ == "train") > s1.values.count(_ == "val"))
  }
}

class SketchCardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  test("sketch card: per-batch stats merge to the full-corpus card; all audit flags green") {
    // mod-3 batches: source is a pure function of doc_id%20 in the fixture,
    // so a mod-2 split would never put one (split, source) cell in BOTH
    // batches — mod 3 makes every cell a genuine cross-batch sketch union
    val stats = Sampling.sketchStats(docs.where(col("doc_id") % 3 === 0))
      .unionByName(Sampling.sketchStats(docs.where(col("doc_id") % 3 =!= 0)))
    val audit = Sampling.sketchCardAudit(stats, docs).collect()
    assert(audit.nonEmpty)
    audit.foreach { r =>
      assert(r.getLong(4) == 1L && r.getLong(5) == 1L && r.getLong(6) == 1L,
        s"audit flags red: $r")
    }
    // and the additive cells agree with the rescan card
    val card = Sampling.sketchCard(stats)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val full = Sampling.datasetCard(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(card == full)
  }

  test("sketch bytes survive a parquet round trip and still union-merge") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sketchcard").toString
    Sampling.sketchStats(docs.where(col("doc_id") % 3 === 0))
      .unionByName(Sampling.sketchStats(docs.where(col("doc_id") % 3 =!= 0)))
      .write.parquet(s"$dir/stats")
    // a later batch appends WITHOUT touching earlier rows or the corpus
    Sampling.sketchStats(docs.limit(0)).write.mode("append").parquet(s"$dir/stats")
    val restored = spark.read.parquet(s"$dir/stats")
    val audit = Sampling.sketchCardAudit(restored, docs).collect()
    assert(audit.nonEmpty && audit.forall(r =>
      r.getLong(4) == 1L && r.getLong(5) == 1L && r.getLong(6) == 1L))
  }

  test("the audit is falsifiable: withheld rows red the count and distinct flags") {
    // stats missing two thirds of every cell vs exact truth over all of
    // it: the estimate sits ~67% low, far outside the 3-RSE band — if
    // this path ever stops redding, the gate is vacuous (mod 3, not mod
    // 2: source correlates with doc_id parity in the fixture, so withheld
    // odd docs would just drop their cells from the inner join)
    val partial = Sampling.sketchStats(docs.where(col("doc_id") % 3 === 0))
    val audit = Sampling.sketchCardAudit(partial, docs).collect()
    assert(audit.exists(_.getLong(4) == 0L), "count_ok failed to red on missing rows")
    assert(audit.exists(_.getLong(6) == 0L), "distinct_ok failed to red on missing rows")
  }

  test("a wholly-dropped (split, source) cell surfaces as an all-red row, not a vanished one") {
    // the inner-join blind spot: stats missing an ENTIRE cell used to
    // drop that cell from the audit output — the one batch-never-recorded
    // failure an audit exists to catch. The full-outer audit must emit
    // the cell with every flag 0.
    val full = Sampling.sketchCardAudit(Sampling.sketchStats(docs), docs)
    val cells = full.select("split", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(cells.length >= 2, "fixture too small to drop a cell")
    val (dropSplit, dropSource) = cells.head
    val stats = Sampling.sketchStats(docs).where(
      !(col("split") === dropSplit && col("source") === dropSource))
    val audit = Sampling.sketchCardAudit(stats, docs)
    assert(audit.count() == cells.length, "dropped cell vanished from the audit")
    val red = audit.where(col("split") === dropSplit && col("source") === dropSource).collect()
    assert(red.length == 1)
    assert(red(0).getLong(4) == 0L && red(0).getLong(5) == 0L && red(0).getLong(6) == 0L,
      s"missing cell not flagged red: ${red(0)}")
    // every other cell stays green
    assert(audit.where(!(col("split") === dropSplit && col("source") === dropSource))
      .collect().forall(r => r.getLong(4) == 1L && r.getLong(5) == 1L && r.getLong(6) == 1L))
  }
}

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("HilbertIndex2: bijective over the grid, every step is unit distance, codegen == eval") {
    val bits = 6
    val n = 1 << bits
    // the defining curve properties, checked exhaustively over all 4096
    // cells: a bijection onto [0, n^2) whose consecutive indices are
    // 4-neighbors — THE property that buys the measured file-skipping win
    // (a Z curve fails the adjacency check at every block boundary)
    val cells = for (x <- 0 until n; y <- 0 until n)
      yield (x, y, graft.functions.HilbertIndex2.compute(x.toLong, y.toLong, bits))
    assert(cells.map(_._3).sorted == (0L until n.toLong * n).toList)
    val byD = cells.sortBy(_._3)
    byD.sliding(2).foreach { case Seq((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"jump between curve steps: ($x1,$y1) -> ($x2,$y2)")
    }
    // the codegen'd expression path agrees with the driver compute
    val df = cells.take(500).map(c => (c._1.toLong, c._2.toLong, c._3)).toSeq
      .toDF("x", "y", "want")
    val diff = df.withColumn("got",
        graft.functions.HilbertIndex2(col("x"), col("y"), bits))
      .where(col("got") =!= col("want")).count()
    assert(diff == 0L)
    // null rank -> null index
    val nrow = Seq((Some(1L), Option.empty[Long])).toDF("x", "y")
      .select(graft.functions.HilbertIndex2(col("x"), col("y"), bits)).head
    assert(nrow.isNullAt(0))
  }

  test("HilbertIndexN: bijective at n=3, unit-step adjacency, codegen == eval, matches 2-D laws") {
    val bits = 4
    val n = 1 << bits
    // exhaustive over all 4096 cells of the 16^3 grid: bijection onto
    // [0, n^3) and 6-neighbor adjacency of consecutive indices — the n-D
    // generalization of the 2-D curve laws (Skilling's transform)
    val cells = for (x <- 0 until n; y <- 0 until n; z <- 0 until n)
      yield (x, y, z,
        graft.functions.HilbertIndexN.compute(Array(x.toLong, y.toLong, z.toLong), bits))
    assert(cells.map(_._4).sorted == (0L until n.toLong * n * n).toList)
    cells.sortBy(_._4).sliding(2).foreach { case Seq((x1, y1, z1, _), (x2, y2, z2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) + math.abs(z1 - z2) == 1,
        s"jump between curve steps: ($x1,$y1,$z1) -> ($x2,$y2,$z2)")
    }
    // at n=2 the transform must satisfy the same laws HilbertIndex2 does
    // (orientation may differ by a reflection; locality laws are identical)
    val cells2 = for (x <- 0 until 64; y <- 0 until 64)
      yield (x, y, graft.functions.HilbertIndexN.compute(Array(x.toLong, y.toLong), 6))
    assert(cells2.map(_._3).sorted == (0L until 4096L).toList)
    cells2.sortBy(_._3).sliding(2).foreach { case Seq((x1, y1, _), (x2, y2, _)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
    // the codegen'd expression path agrees with the driver compute
    val df = cells.take(500).map(c => (c._1.toLong, c._2.toLong, c._3.toLong, c._4)).toSeq
      .toDF("x", "y", "z", "want")
    val diff = df.withColumn("got",
        graft.functions.HilbertIndexN(Seq(col("x"), col("y"), col("z")), bits))
      .where(col("got") =!= col("want")).count()
    assert(diff == 0L)
    // null in any rank -> null index
    val nrow = Seq((Some(1L), Option.empty[Long], Some(2L))).toDF("x", "y", "z")
      .select(graft.functions.HilbertIndexN(Seq(col("x"), col("y"), col("z")), bits)).head
    assert(nrow.isNullAt(0))
  }

  test("HilbertIndexN: bijective at n=4, unit-step adjacency (the 4-key layout law)") {
    // exhaustive over all 65536 cells of the 16^4 grid — the law behind
    // CurveAb's 4-D A/B (PLANS.md round 16) and any four-key writeZordered
    val bits = 4
    val n = 1 << bits
    val cells = for (a <- 0 until n; b <- 0 until n; c <- 0 until n; d <- 0 until n)
      yield (a, b, c, d,
        graft.functions.HilbertIndexN.compute(Array(a.toLong, b.toLong, c.toLong, d.toLong), bits))
    assert(cells.map(_._5).sorted == (0L until n.toLong * n * n * n).toList)
    cells.sortBy(_._5).sliding(2).foreach {
      case Seq((a1, b1, c1, d1, _), (a2, b2, c2, d2, _)) =>
        assert(math.abs(a1 - a2) + math.abs(b1 - b2) +
          math.abs(c1 - c2) + math.abs(d1 - d2) == 1,
          s"jump between curve steps: ($a1,$b1,$c1,$d1) -> ($a2,$b2,$c2,$d2)")
    }
  }

  test("SortedIntersectSize: column API and SQL registration agree with array_intersect") {
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L)),
      (Array[Long](), Array(1L, 2L)),
      (Array(7L), Array(7L))).toDF("a", "b")
    val viaCol = df.select(graft.functions.SortedIntersectSize(col("a"), col("b")).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(viaCol == Seq(2, 0, 1))
    val viaBuiltin = df.select(size(array_intersect(col("a"), col("b"))).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(viaCol == viaBuiltin)

    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("pairs_v")
    val viaSql = spark.sql("SELECT sorted_intersect_size(a, b) AS n FROM pairs_v")
      .collect().map(_.getInt(0)).toSeq
    assert(viaSql == Seq(2, 0, 1))
  }

  test("SortedIntersectSizeBounded: -1 exactly when below required, else the exact count") {
    // randomized law vs the exact kernel — result is the exact intersect
    // when it reaches `required`, -1 otherwise; NO pair at or above the
    // bound may abort
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      val a = Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val b = Array.fill(rnd.nextInt(40))(rnd.nextInt(60).toLong).distinct.sorted
      val req = rnd.nextInt(20)
      (a, b, req)
    }
    val exacts = rows.toDF("a", "b", "req")
      .select(graft.functions.SortedIntersectSize(col("a"), col("b")))
      .collect().map(_.getInt(0))
    rows.zip(exacts).foreach { case ((a, b, req), exact) =>
      val bounded = graft.functions.SortedIntersectSizeBounded.count(
        new GenericArrayData(a), new GenericArrayData(b), req)
      if (exact >= req) assert(bounded == exact, s"exact=$exact req=$req -> $bounded")
      else assert(bounded == -1, s"exact=$exact req=$req -> $bounded")
    }
  }

  test("ArrayEqCount / HammingCount: agree with their builtin lambda formulations") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 150).map { i =>
      val n = if (i % 7 == 0) rnd.nextInt(5) else 4
      val m = if (i % 11 == 0) rnd.nextInt(5) else n
      (Array.fill(n)(rnd.nextInt(4).toLong), Array.fill(m)(rnd.nextInt(4).toLong))
    }
    val df = rows.toDF("a", "b")
    val out = df.select(
      graft.functions.ArrayEqCount(col("a"), col("b")).as("eq"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), p => p)).as("eq0"),
      graft.functions.HammingCount(col("a"), col("b")).as("hm"),
      aggregate(zip_with(col("a"), col("b"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")), lit(0L), (acc, v) => acc + v).as("hm0"))
      .collect()
    out.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"eq mismatch: $r")
      assert(r.isNullAt(2) == r.isNullAt(3), s"hamming null mismatch: $r")
      if (!r.isNullAt(2)) assert(r.getLong(2) == r.getLong(3), s"hamming mismatch: $r")
    }
  }

  test("array expressions: a NULL ELEMENT poisons the result to null, never NPE/0") {
    import graft.functions._
    // the zip_with/aggregate equivalents propagate an element null into a
    // null sum; reading through getFloat/getLong would NPE (interpreted)
    // or silently read 0 (unsafe rows) — both paths must return null
    val f = Seq((Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](2.0f, 3.0f)))
      .toDF("a", "b")
    assert(f.select(FloatDotProduct(col("a"), col("b"))).head.isNullAt(0))
    val i8 = Seq((Seq[java.lang.Byte](1.toByte, null), Seq[java.lang.Byte](2.toByte, 3.toByte)))
      .toDF("a", "b")
    assert(i8.select(Int8DotProduct(col("a"), col("b"))).head.isNullAt(0))
    val sl = Seq((Seq[java.lang.Long](0L, null), Seq[java.lang.Long](0L, 5L)))
      .toDF("a", "b")
    assert(sl.select(SortedIntersectSize(col("a"), col("b"))).head.isNullAt(0))
    val vec = Seq(Tuple1(Seq[java.lang.Float](1.0f, null))).toDF("v")
    assert(vec.select(HyperplaneBucket(col("v"), Seq(Array(1.0, 1.0)))).head.isNullAt(0))
    assert(vec.select(NearestCentroid(col("v"), Array(Array(1.0, 1.0)))).head.isNullAt(0))
    // and non-null inputs still compute through the same (now-nullable) path
    val ok = Seq((Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))).toDF("a", "b")
    assert(ok.select(FloatDotProduct(col("a"), col("b"))).head.getDouble(0) == 11.0)
  }

  test("CmsEstimate: never below the true count, exact when collision-free, null-safe") {
    val rows = Seq(1L, 1L, 1L, 2L, 2L, 3L)
    val df = rows.toDF("v")
    val sketch = df.agg(count_min_sketch(col("v"), lit(0.001), lit(0.99), lit(42)))
      .head.getAs[Array[Byte]](0)
    // width 2000 >> 3 keys: estimates are exact
    val got = df.distinct()
      .select(col("v"), graft.functions.CmsEstimate(sketch, col("v")).as("est"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
    // a key never added estimates >= 0 (usually 0 here), and nulls propagate
    val extra = Seq[java.lang.Long](99L, null).toDF("v")
      .select(graft.functions.CmsEstimate(sketch, col("v")).as("est")).collect()
    assert(!extra(0).isNullAt(0) && extra(0).getLong(0) >= 0L)
    assert(extra(1).isNullAt(0))
  }

  test("KgramHashMinMax: value-identical to the builtin transform/sequence form") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog",
      "short",          // shorter than k -> one whole-string gram
      "exactly9!",      // length == k -> one gram
      "café résumé naïve text with multibyte chars",
      "a").toDF("t")
    val k = 9
    val viaExpr = df.select(graft.functions.KgramHashMinMax(col("t"), k).as("mm"))
      .collect().map(r => { val s = r.getSeq[Long](0); (s(0), s(1)) }).toSeq
    val grams = transform(
      sequence(lit(1), greatest(length(col("t")) - (k - 1), lit(1))),
      i => xxhash64(col("t").substr(i, lit(k))))
    val viaBuiltin = df.select(array_min(grams), array_max(grams))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaExpr == viaBuiltin)

    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("kgram_v")
    val viaSql = spark.sql(s"SELECT kgram_hash_minmax(t, $k) AS mm FROM kgram_v")
      .collect().map(r => { val s = r.getSeq[Long](0); (s(0), s(1)) }).toSeq
    assert(viaSql == viaExpr)
  }

  test("SortedIntersectSize: null inputs -> null (binary expression contract)") {
    val df = Seq((Some(Array(1L, 2L)), None: Option[Array[Long]])).toDF("a", "b")
    val out = df.select(graft.functions.SortedIntersectSize(col("a"), col("b")).as("n")).head()
    assert(out.isNullAt(0))
  }

  test("float_dot_product: SQL registration matches the Column API") {
    graft.GraftExtensions.register(spark)
    val df = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    df.createOrReplaceTempView("vecs_v")
    val viaSql = spark.sql("SELECT float_dot_product(a, b) AS d FROM vecs_v")
      .head().getDouble(0)
    val viaCol = df.select(graft.functions.FloatDotProduct(col("a"), col("b")).as("d"))
      .head().getDouble(0)
    assert(viaSql == 11.0 && viaCol == 11.0)
  }

  test("WordShingleHashes: value-identical to the builtin split/transform/zip_with form") {
    // the expression replaces the HOF formulation shingleHashesAll used to
    // build inline — identical split semantics (single-space separators,
    // empty tokens kept), per-word xxhash64, and two-arg xxhash64 fold
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b",                         // shorter than k -> empty
      "x y z",                       // exactly k -> one shingle
      "double  space   runs keep empty tokens",
      " leading and trailing ",
      "",                            // one empty token -> empty for k>1
      "café résumé naïve multibyte 中文 words here")
      .toDF("t")
    for (k <- Seq(1, 2, 3, 8)) {
      def builtin(text: Column): Column = {
        val ws = split(text, " ")
        val wh = transform(ws, w => xxhash64(w))
        val n = greatest(size(ws) - (k - 1), lit(0))
        (1 until k).foldLeft(slice(wh, lit(1), n)) { (acc, j) =>
          zip_with(acc, slice(wh, lit(j + 1), n), (a, b) => xxhash64(a, b))
        }
      }
      val got = docs.select(graft.functions.WordShingleHashes(col("t"), k).as("h"))
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
      val want = docs.select(builtin(col("t")).as("h"))
        .collect().map(_.getSeq[Long](0).toSeq).toSeq
      assert(got == want, s"k=$k drifted from the builtin formulation")
    }
    // null document -> null
    assert(Seq(Tuple1(null: String)).toDF("t")
      .select(graft.functions.WordShingleHashes(col("t"), 3)).head.isNullAt(0))
  }

  test("HyperplaneBuckets: value-identical to the per-table HyperplaneBucket form") {
    // the fused node exists for generated-code size; its VALUES must be
    // bit-identical to the 16-separate-nodes form it replaced (same plane
    // order, accumulation order, and null contract)
    val rnd = new scala.util.Random(7)
    val dim = 16; val nBits = 4; val nTables = 6
    val planes = Seq.fill(nBits * nTables)(Array.fill(dim)(rnd.nextGaussian()))
    val tables = planes.grouped(nBits).toSeq
    val df = Seq.fill(40)(Seq.fill(dim)(rnd.nextFloat() * 2f - 1f)).toDF("v")
    val fused = df.select(
      graft.functions.HyperplaneBuckets(col("v"), planes, nBits).as("b"))
      .collect().map(_.getSeq[Long](0).toSeq)
    val separate = df.select(
      array(tables.map(t => graft.functions.HyperplaneBucket(col("v"), t)): _*).as("b"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(fused.toSeq == separate.toSeq)

    // null contract: null element -> ALL nTables buckets null (posexplode
    // row count preserved); null vector -> null result
    val withNullElem = Seq(Tuple1(Seq[java.lang.Float](1.0f, null))).toDF("v")
      .select(graft.functions.HyperplaneBuckets(
        col("v"), Seq(Array(1.0, 1.0), Array(-1.0, 1.0)), 1).as("b"))
      .head.getSeq[java.lang.Long](0)
    assert(withNullElem.size == 2 && withNullElem.forall(_ == null))
    val nullVec = Seq(Tuple1(null: Seq[java.lang.Float])).toDF("v")
      .select(graft.functions.HyperplaneBuckets(
        col("v"), Seq(Array(1.0, 1.0)), 1).as("b"))
    assert(nullVec.head.isNullAt(0))
  }

  test("matrix-carrying expressions canonicalize by value, not reference") {
    // Two separately-built (but equal) plane/centroid matrices must compare
    // semantically equal, or Catalyst can never dedupe/reuse the
    // subexpressions (Array fields default to reference equality).
    // one shared child: Column->Expression conversion stamps a per-call
    // Origin, so the MATRIX equality is what's under test here (resolved
    // plans compare children by exprId, which Origin doesn't affect)
    def planes() = Seq(Array(1.0, 2.0), Array(-3.0, 4.0))
    val child = org.apache.spark.sql.GraftBridge.toExpression(col("v"))
    val b1 = graft.functions.HyperplaneBucket(child, planes().toArray)
    val b2 = graft.functions.HyperplaneBucket(child, planes().toArray)
    assert(b1 == b2 && b1.hashCode == b2.hashCode && b1.semanticEquals(b2))
    assert(b1 != b1.copy(planes = Array(Array(9.0, 9.0))))

    val c1 = graft.functions.NearestCentroid(child, planes().toArray)
    val c2 = graft.functions.NearestCentroid(child, planes().toArray)
    assert(c1 == c2 && c1.hashCode == c2.hashCode && c1.semanticEquals(c2))

    val m1 = graft.functions.HyperplaneBuckets(child, planes().toArray, 1)
    val m2 = graft.functions.HyperplaneBuckets(child, planes().toArray, 1)
    assert(m1 == m2 && m1.hashCode == m2.hashCode && m1.semanticEquals(m2))
    assert(m1 != m1.copy(nBits = 2))
  }

  test("BoundsRank: kernel == the replaced when()-chain on randoms, nulls, " +
    "NaN, boundary hits; exact long compares past the double mantissa") {
    import spark.implicits._
    // the exact formulation zorderStage used through r20 — the law is
    // bit-identical agreement, including null -> 0 and Spark's NaN-greatest
    // double ordering
    def chainD(v: Column, bs: Array[Double]): Column =
      bs.foldLeft(lit(0)) { (acc, b) => acc + when(v > lit(b), 1).otherwise(0) }
    def chainL(v: Column, bs: Array[Long]): Column =
      bs.foldLeft(lit(0)) { (acc, b) => acc + when(v > lit(b), 1).otherwise(0) }
    val rnd = new scala.util.Random(42)
    val boundsD = Array.tabulate(63)(_ => rnd.nextDouble() * 100).sorted.distinct
    val vsD: Seq[Option[Double]] =
      Seq(None, Some(Double.NaN), Some(-1e9), Some(1e9)) ++
        boundsD.take(8).map(Some(_)) ++ // exact boundary hits rank LEFT of themselves
        (0 until 500).map(_ => Some(rnd.nextDouble() * 120 - 10))
    val dfD = vsD.toDF("v")
      .select(graft.functions.BoundsRankDouble(col("v"), boundsD).as("got"),
        chainD(col("v"), boundsD).as("want"))
    assert(dfD.where(col("got") =!= col("want")).count() == 0L)
    // codegen == eval: the same frame through the interpreted path
    val interpreted = vsD.map(v =>
      v.fold(0)(x => graft.functions.BoundsRankDouble.compute(x, boundsD)))
    assert(dfD.select(col("got")).collect().map(_.getInt(0)).toSeq == interpreted)
    // long sibling: values adjacent at 2^62 scale, where a double round-trip
    // would collapse neighbors onto one bound
    val base = (1L << 62) - 64L
    val boundsL = Array.tabulate(7)(i => base + i * 16L)
    val vsL: Seq[Option[Long]] =
      Seq(None, Some(0L), Some(Long.MaxValue)) ++
        boundsL.map(Some(_)) ++ boundsL.map(b => Some(b + 1L))
    val dfL = vsL.toDF("v")
      .select(graft.functions.BoundsRankLong(col("v"), boundsL).as("got"),
        chainL(col("v"), boundsL).as("want"))
    assert(dfL.where(col("got") =!= col("want")).count() == 0L)
    // the precision trap itself: b and b+1 must rank differently around b
    assert(graft.functions.BoundsRankLong.compute(base, boundsL) == 0)
    assert(graft.functions.BoundsRankLong.compute(base + 1L, boundsL) == 1)
  }

  test("BoundsRank: instances with equal bounds are semantically equal (CSE)") {
    // fresh arrays with equal content, as two staging writes build them
    val child = org.apache.spark.sql.GraftBridge.toExpression(col("v"))
    val d1 = graft.functions.BoundsRankDouble(child, Array(1.0, 2.5, 7.0))
    val d2 = graft.functions.BoundsRankDouble(child, Array(1.0, 2.5, 7.0))
    assert(d1 == d2 && d1.hashCode == d2.hashCode && d1.semanticEquals(d2))
    assert(d1 != d1.copy(bounds = Array(1.0, 2.5)))
    val l1 = graft.functions.BoundsRankLong(child, Array(1L, 1L << 62))
    val l2 = graft.functions.BoundsRankLong(child, Array(1L, 1L << 62))
    assert(l1 == l2 && l1.hashCode == l2.hashCode && l1.semanticEquals(l2))
    assert(l1 != l1.copy(bounds = Array(1L, (1L << 62) + 1L)))
  }

  test("BoundedJaccard: filter(>= t) keeps exactly the exact-Jaccard >= t " +
    "pairs with bit-identical values; empty sets 0; null elements null") {
    import spark.implicits._
    val t = 0.5
    val rnd = new scala.util.Random(7)
    def mkSet(n: Int): Seq[Long] =
      Seq.fill(n)(rnd.nextLong() % 50).distinct.sorted
    // random pairs with heavy overlap so both sides of the threshold occur
    val pairs: Seq[(Seq[Long], Seq[Long])] =
      (0 until 400).map { _ =>
        val a = mkSet(rnd.nextInt(12))
        val drop = a.filter(_ => rnd.nextBoolean())
        val b = (drop ++ mkSet(rnd.nextInt(8))).distinct.sorted
        (a, b)
      } :+ ((Seq.empty[Long], Seq.empty[Long])) :+ ((Seq(1L, 2L), Seq.empty[Long]))
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.functions.BoundedJaccard(col("a"), col("b"), t).as("bj"))
    val rows = df.collect()
    rows.foreach { r =>
      val a = r.getSeq[Long](0); val b = r.getSeq[Long](1)
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.size + b.size - inter
      val exact = if (union == 0) 0.0 else inter.toDouble / union.toDouble
      val bj = r.getDouble(2)
      if (exact >= t)
        assert(bj == exact, s"survivor must carry the exact value: $a $b")
      else
        assert(bj < t, s"below-threshold pair must not survive: $a $b -> $bj")
    }
    // a null element poisons to SQL NULL (dropped by any >= filter)
    val nrow = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](1L, 2L)))
      .toDF("a", "b")
      .select(graft.functions.BoundedJaccard(col("a"), col("b"), t)).head
    assert(nrow.isNullAt(0))
  }
}

class BpeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("bpe: merges follow frequency with lexicographic tie-breaks; training stops when exhausted") {
    // ab:5, cd:2 -> round 1 merges (a,b) cnt 5, round 2 (c,d) cnt 2, then
    // every word is one symbol and training stops short of k
    val docs = Seq((1L, "ab ab ab ab"), (2L, "ab cd cd")).toDF("doc_id", "text")
    val (merges, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = 5)
    assert(merges.map(m => (m.rank, m.lhs, m.rhs, m.merged, m.pairCount)) ==
      Seq((1, "a", "b", "ab", 5L), (2, "c", "d", "cd", 2L)))
    val syms = seg.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(syms("ab") == Seq("ab") && syms("cd") == Seq("cd"))
  }

  test("bpe: identical-symbol runs merge greedily left-to-right, non-overlapping") {
    // "aaaa": pair (a,a) counts 3 occurrences but greedy merges positions
    // 1-2 and 3-4 -> [aa, aa]; "aaa" -> [aa, a]. Round 2 ties (aa,aa) vs
    // (aa,a) at count 1; the lexicographic tie-break picks (aa, a), which
    // rewrites "aaa" but leaves [aa, aa] alone
    val docs = Seq((1L, "aaaa aaa")).toDF("doc_id", "text")
    val (merges, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = 2)
    assert(merges(0).lhs == "a" && merges(0).rhs == "a" && merges(0).pairCount == 5L)
    val syms = seg.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(merges(1).merged == "aaa")
    assert(syms("aaaa") == Seq("aa", "aa") && syms("aaa") == Seq("aaa"))
  }

  test("bpe: tokenize emits the in-order subword stream") {
    val docs = Seq((1L, "ab ab cd"), (2L, "abcd xy ab")).toDF("doc_id", "text")
    val (_, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = 2) // merges: ab, cd
    val out = Bpe.tokenize(docs.repartition(3), seg).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == (3L, "ab|ab|cd"))
    // word order survives the join + unordered collect (array_sort on pos)
    assert(out(2L) == (5L, "ab|cd|x|y|ab"))
  }

  test("bpe property: syms concatenate to the word; a driver-side merge replay agrees exactly") {
    // random 4-letter-alphabet corpus: lots of repeated pairs and
    // identical-symbol runs, the adversarial case for greedy merging
    val rnd = new scala.util.Random(11)
    val words = Seq.fill(60)(Seq.fill(1 + rnd.nextInt(8))("abcd"(rnd.nextInt(4))).mkString)
    val docs = words.grouped(6).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq.toDF("doc_id", "text")
    val (merges, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = 8)
    assert(merges.nonEmpty)
    // independent reimplementation of "apply the merge list to one word",
    // plain Scala, no Spark: greedy left-to-right fold per merge, in rank
    // order — must reproduce the distributed segmentation symbol-for-symbol
    def replay(word: String): Seq[String] =
      merges.sortBy(_.rank).foldLeft(word.map(_.toString): Seq[String]) { (syms, m) =>
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == m.lhs && x == m.rhs)
            acc.init :+ (m.lhs + m.rhs)
          else acc :+ x
        }
      }
    val out = seg.collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(out.keySet == words.toSet)
    out.foreach { case (w, syms) =>
      assert(syms.mkString == w, s"'$w' segmented to $syms — symbols lost content")
      assert(syms == replay(w), s"'$w': distributed $syms != replay ${replay(w)}")
    }
  }

  test("bpe: token counts via the vocab join; deterministic under repartition") {
    val docs = Seq((1L, "ab ab cd"), (2L, "abcd")).toDF("doc_id", "text")
    val (_, seg) = Bpe.train(Bpe.wordFrequencies(docs), k = 2)
    // merges: (a,b) cnt 3 -> (c,d) cnt 2; "ab"->1 sym, "cd"->1, "abcd"->[ab,cd]->2
    val counts = Bpe.tokenCounts(docs, seg).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == Map(1L -> 3L, 2L -> 2L))
    val (m2, _) = Bpe.train(Bpe.wordFrequencies(docs.repartition(5)), k = 2)
    assert(m2.map(_.merged) == Seq("ab", "cd"))
  }
}

class TextStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq((1L, "the quick brownish fox")).toDF("doc_id", "text")
    val r = df.select(
      TextStats.tokenCount(col("text")).as("n"),
      TextStats.bpeishTokenCount(col("text")).as("b")).head()
    assert(r.getLong(0) == 4)
    // ceil(3/4)+ceil(5/4)+ceil(8/4)+ceil(3/4) = 1+2+2+1 = 6
    assert(r.getLong(1) == 6)
  }

  test("removeBoilerplate: cross-doc templates cut, within-doc repetition kept") {
    // "share this page" appears in 5 distinct docs -> boilerplate;
    // doc 6 repeats its own phrase 5 times in ONE doc -> NOT boilerplate
    val body = Seq(
      (1L, "alpha beta gamma share this page delta"),
      (2L, "epsilon share this page zeta eta theta"),
      (3L, "share this page iota kappa lambda mu"),
      (4L, "nu xi omicron pi share this page"),
      (5L, "rho sigma share this page tau upsilon"),
      (6L, "own phrase here own phrase here own phrase here own phrase here own phrase here")
    ).toDF("doc_id", "text")
    val out = TextStats.removeBoilerplate(body, k = 3, minDocs = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    // every occurrence of the template trigram is covered
    (1L to 5L).foreach { i =>
      assert(!out(i)._4.contains("share this page"), s"doc $i kept the template")
      assert(out(i)._2 >= 1, s"doc $i should flag the boilerplate span")
    }
    // the self-repeating doc is untouched (distinct-doc count is 1)
    assert(out(6L) == (15L, 0L, 0L, body.where(col("doc_id") === 6)
      .head.getString(1)))
    // surviving words keep their order
    assert(out(1L)._4 == "alpha beta gamma delta")
  }

  test("removeBoilerplate: exact at any sketch quality; empty input safe") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val ref = TextStats.removeBoilerplate(docs, k = 3, minDocs = 4, eps = 1e-5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(ref.exists(_._3 > 0), "fixture should contain cross-doc boilerplate")
    // a deliberately terrible sketch (eps = 0.5, ~4 counters) must match:
    // the CMS is a one-sided prefilter, the exact countDistinct confirms
    val loose = TextStats.removeBoilerplate(docs, k = 3, minDocs = 4, eps = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSet
    assert(loose == ref, "sketch quality changed the removal decision")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextStats.removeBoilerplate(empty, k = 3, minDocs = 1).count() == 0L)
  }

  test("langId: English stopwords -> en; gibberish -> und") {
    val df = Seq(
      (1L, "the cat sat on the mat and the dog ran to the park"),
      (2L, "zzz qqq xxx yyy www vvv")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextStats.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "und")
  }

  test("quality: ttr and score in [0,1]; repetitive text scores lower") {
    val df = Seq(
      (1L, (1 to 60).map(i => s"w$i").mkString(" ")), // all distinct
      (2L, Seq.fill(60)("spam").mkString(" "))).toDF("doc_id", "text")
    val out = TextStats.withQuality(df).select("doc_id", "type_token_ratio", "quality_score")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 1.0)
    assert(out(2L)._1 < 0.02)
    assert(out(1L)._2 > out(2L)._2)
  }

  test("cleaning: URLs and emails redacted with counts, whitespace collapsed") {
    val df = Seq(
      (1L, "see https://example.com/x?q=1 and  mail bob@test.org   now"),
      (2L, "no entities here")).toDF("doc_id", "text")
    val out = TextStats.withCleaned(df).select("doc_id", "clean_text", "n_urls", "n_emails")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("see <URL> and mail <EMAIL> now", 1L, 1L)))
    assert(out(2L) == (("no entities here", 0L, 0L)))
  }

  test("cleaning: phone numbers redacted after URLs/emails, counted on original text") {
    val df = Seq(
      (1L, "call +44 20 7946 0958 or (020) 7946-0958 today"),
      (2L, "yearlike 1999 2024 stays; 555 0100 too short"),
      // r5 false-positive regressions: a match now needs a +country, a
      // (area), or hyphen separators — plain digit runs never redact
      (3L, "years 2020 2021 2022 and date 20240115 and iso 2023-01-15"),
      (4L, "us style 123 456 7890 unmarked"),
      (5L, "hyphenated 020-7123-4567 still caught")).toDF("doc_id", "text")
    val out = TextStats.withCleaned(df).select("doc_id", "clean_text", "n_phones")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the +country anchor now absorbs "+44 " into the first match
    assert(out(1L) == (("call <PHONE> or <PHONE> today", 2L)))
    assert(out(2L) == (("yearlike 1999 2024 stays; 555 0100 too short", 0L)))
    assert(out(3L) == (("years 2020 2021 2022 and date 20240115 and iso 2023-01-15", 0L)))
    assert(out(4L) == (("us style 123 456 7890 unmarked", 0L)))
    assert(out(5L) == (("hyphenated <PHONE> still caught", 1L)))
  }

  test("cleaning: IPv4 addresses redacted, octets bounded, versions left alone") {
    val df = Seq(
      (1L, "server at 192.168.0.1 and 10.0.0.255 responded"),
      (2L, "not an ip: 999.1.2.3 or 1.2.3.256, version v1.2.3.4.5"),
      (3L, "date 2023.01.15 has three parts only"),
      (4L, "url http://10.0.0.1/path hides its ip")).toDF("doc_id", "text")
    val out = TextStats.withCleaned(df).select("doc_id", "clean_text", "n_ips")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (("server at <IP> and <IP> responded", 2L)))
    // 999.1.2.3: no valid octet parse from any word boundary; 1.2.3.256
    // fails the last octet. KNOWN tradeoff (no lookbehind in RE2): a
    // version-like "v1.2.3.4.5" leftmost-matches its "2.3.4.5" suffix —
    // verified identical in Java regex and DuckDB RE2, so cross-engine
    // consistent even where imperfect
    assert(out(2L)._1 == "not an ip: 999.1.2.3 or 1.2.3.256, version v1.<IP>")
    assert(out(2L)._2 == 1L)
    assert(out(3L) == (("date 2023.01.15 has three parts only", 0L)))
    // the URL pass runs first, so the embedded IP is already gone from the
    // text; n_ips still audits the ORIGINAL text like every other count
    assert(out(4L) == (("url <URL> hides its ip", 1L)))
  }

  /** The redaction chain before the literal guards: every regex runs on
    * every doc. The reference [[TextStats.withCleaned]] must equal.
    */
  private def unguardedCleaned(df: org.apache.spark.sql.DataFrame, text: String = "text") = {
    import TextStats.{emailPattern, ipPattern, phonePattern, urlPattern}
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(col(text), urlPattern, "<URL>"), emailPattern, "<EMAIL>"),
      phonePattern, "<PHONE>"), ipPattern, "<IP>")
    df.withColumn("n_urls",
        size(regexp_extract_all(col(text), lit(urlPattern), lit(0))).cast("long"))
      .withColumn("n_emails",
        size(regexp_extract_all(col(text), lit(emailPattern), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col(text), lit(phonePattern), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col(text), lit(ipPattern), lit(0))).cast("long"))
      .withColumn("clean_text", trim(regexp_replace(redacted, "\\s+", " ")))
  }

  test("cleaning: the literal-guarded chain equals the unguarded one on every column") {
    val adversarial = Seq(
      null, "", "   ", " \t\n ",
      "plain words only, no digits or at signs",
      "a :// with no scheme and ftp://host/x and ://123",
      "http://user@host.com/a?b=c@d.org only inside a url",
      "https://example.com/2023-01-15/192.168.0.1/+44-20-7946 digits in a url",
      "mail 2020-2021-2022@example.com and bob123@test.org has digits",
      "call +44 20 7946 0958 or (020) 7946-0958 or 020-7123-4567",
      "ip 192.168.0.1, 10.0.0.255, 999.1.2.3, 1.2.3.256, v1.2.3.4.5",
      "years 2020 2021 and iso 2023-01-15 and 20240115",
      "only zeros: 0.0.0.0 and 00-000-0000 and +0 00 000 0000",
      "runs  of\t\twhitespace \n\n here   ",
      "at@ but no domain, and @@ twice",
      "\u00e9t\u00e9 \u0663\u0664 non-ascii digits \uff11\uff12")
    val frags = Array("word", "the", "://", "http://a.b/c", "https://x.io/p?q=1", "@",
      "bob@test.org", "a.b@c.de", "user@host", "7", "2024", "+44", "(020)", "7946-0958",
      "020-7123-4567", "192.168.0.1", "1.2.3", "256.1.1.1", ".", "-", "(", ")", " ", "  ",
      "\t", "\n", "\u00e9", "<URL>")
    val rnd = new java.util.SplittableRandom(20261019L)
    val random = Seq.fill(400)(
      (0 until rnd.nextInt(12)).map(_ => frags(rnd.nextInt(frags.length)))
        .mkString(if (rnd.nextBoolean()) " " else ""))
    val df = (adversarial ++ random).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val guarded = TextStats.withCleaned(df)
    val reference = unguardedCleaned(df)
    assert(guarded.columns.toSeq == reference.columns.toSeq)
    val g = guarded.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val r = reference.collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(g.size == df.count())
    val diff = r.keys.toSeq.sorted.filter(k => g(k) != r(k))
    assert(diff.isEmpty, diff.take(5).map(k => s"\n  guarded ${g(k)}\n  reference ${r(k)}").mkString)
    // the fixture exercises every pattern, so equality checked something
    Seq("n_urls", "n_emails", "n_phones", "n_ips").foreach(c =>
      assert(guarded.where(col(c) > 0).count() > 0, s"no text matched $c"))
  }

  test("repetition: repeated phrases raise dup_fraction; distinct prose scores 0") {
    val df = Seq(
      (1L, "buy now " * 10 + "limited offer"),       // heavy phrase repeats
      (2L, (1 to 20).map(i => s"w$i").mkString(" ")), // all-distinct shingles
      (3L, "too short")                               // < 3 words -> no shingles
    ).toDF("doc_id", "text")
    val out = TextStats.withRepetition(df)
      .select("doc_id", "n_shingles", "dup_fraction")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L)._2 > 0.7)
    assert(out(2L) == ((18L, 0.0)))
    assert(out(3L) == ((0L, 0.0)))
  }

  test("tfidf: corpus-wide terms score zero, distinctive terms rank first") {
    val df = Seq(
      (1L, "shared shared unicorn"),
      (2L, "shared dragon"),
      (3L, "shared dragon")).toDF("doc_id", "text")
    val top = TextStats.topTfidfTerms(df, k = 1)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(4))).toMap
    // 'shared' is in every doc -> idf = ln(1) = 0; unique/rare terms win
    assert(top(1L)._1 == "unicorn" && top(1L)._2 > 0)
    assert(top(2L)._1 == "dragon" && top(3L)._1 == "dragon")
    val sharedScore = TextStats.topTfidfTerms(df, k = 3)
      .where(col("term") === "shared").select("tfidf").collect().map(_.getDouble(0))
    assert(sharedScore.forall(_ == 0.0))
  }

  test("unigramNll: corpus-typical docs score lower than rare-word docs") {
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common common common"),
      (3L, "common common common common"),
      (4L, "rare1 rare2 rare3 rare4")
    ).toDF("doc_id", "text")
    val out = TextStats.unigramNll(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 'common' has p = 12/16 -> -ln = 0.287682; each rare word p = 1/16
    assert(out(1L)._1 == 4L)
    assert(math.abs(out(1L)._2 - 4 * 0.287682) < 1e-9)
    assert(out(4L)._2 > out(1L)._2 * 5) // rare-word doc is far less likely
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    // partition-layout independent (round-before-sum kills order ulps)
    val again = TextStats.unigramNll(df.repartition(3))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(again == out.map { case (k, v) => k -> v._2 })
  }

  test("sourceDivergence: corpus-like source scores ~0, skewed source higher") {
    // corpus mix is x:y = 12:4; srcA (50/50) sits closer to it than the
    // all-x srcB: KL(a) = 0.5·ln(4/3), KL(b) = ln(4/3) — b doubles a
    val df = Seq(
      (1L, "a", "x y x y"), (2L, "a", "y x y x"),
      (3L, "b", "x x x x"), (4L, "b", "x x x x")
    ).toDF("doc_id", "source", "text")
    val out = TextStats.sourceDivergence(df)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("a")._1 == 2L && out("b")._1 == 1L) // distinct terms per source
    assert(out("a")._2 >= 0.0 && out("b")._2 > out("a")._2)
  }

  test("classifySource: docs with source-typical vocabulary tag their source; deterministic") {
    // srcA speaks {alpha, beta}, srcB speaks {gamma, delta}; doc 5 is an
    // obvious srcA-dialect doc filed under srcB — the classifier should
    // call it srcA (is_correct = 0) and everything else correctly.
    val df = Seq(
      (1L, "srcA", "alpha beta alpha beta alpha"),
      (2L, "srcA", "beta alpha beta alpha beta"),
      (3L, "srcB", "gamma delta gamma delta gamma"),
      (4L, "srcB", "delta gamma delta gamma delta"),
      (5L, "srcB", "alpha beta alpha beta alpha")
    ).toDF("doc_id", "source", "text")
    val out = TextStats.classifySource(df)
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(4))).toMap
    assert(out(1L) == ("srcA", 1L) && out(2L) == ("srcA", 1L))
    assert(out(3L) == ("srcB", 1L) && out(4L) == ("srcB", 1L))
    assert(out(5L) == ("srcA", 0L), s"dialect doc should tag srcA: ${out(5L)}")
    // exactly one row per doc, stable under repartition
    val again = TextStats.classifySource(df.repartition(3))
      .collect().map(r => r.getLong(0) -> (r.getString(2), r.getLong(4))).toMap
    assert(again == out)
  }

  test("quality rules: each Gopher-style flag fires on exactly its violation") {
    val good = "the quick brown fox jumps over a lazy dog near the old stone bridge " +
      "while birds sing in the warm morning light and children play for hours on " +
      "the green grass by the river bank today" // 37 words, stopwords present
    val df = Seq(
      (1L, good),
      (2L, "the short doc with a few words only"),            // 8 words < 30
      (3L, good + " supercalifragilisticexpialidocious"),     // 34-char word
      (4L, (1 to 35).map(_ => "xx").mkString(" ")),           // mean len 2 < 3, no stopwords
      (5L, (1 to 35).map(i => s"unique$i").mkString(" "))     // no stopwords
    ).toDF("doc_id", "text")
    val out = TextStats.withQualityRules(df)
      .select("doc_id", "ok_n_words", "ok_word_len", "ok_max_len", "ok_stopwords", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((1L, 1L, 1L, 1L, 1L)))
    assert(out(2L) == ((0L, 1L, 1L, 1L, 0L)))
    assert(out(3L)._3 == 0L && out(3L)._5 == 0L)
    assert(out(4L) == ((1L, 0L, 1L, 0L, 0L)))
    assert(out(5L) == ((1L, 1L, 1L, 0L, 0L)))
  }

  test("lexical diversity: sorted-run dominant count; thresholds fire exactly") {
    val df = Seq(
      (1L, "all words here are fully distinct tokens"),          // ttr 1.0, top 1
      (2L, (1 to 10).map(_ => "spam").mkString(" ")),            // ttr 0.1, top 10
      (3L, "spam ham spam eggs spam ham toast spam jam spam"),   // non-adjacent repeats: top(spam)=5
      (4L, "a b c d e f g h a b c d e f g h")                   // 16 words, 8 types, top 2
    ).toDF("doc_id", "text")
    val out = TextStats.withLexicalDiversity(df)
      .select("doc_id", "n_words", "n_types", "top_word_count", "ok_ttr", "ok_dominance", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(out(1L) == ((7L, 7L, 1L, 1L, 0L, 0L))) // 1*8 > 7: dominance fails on tiny docs
    assert(out(2L) == ((10L, 1L, 10L, 0L, 0L, 0L)))
    // the non-adjacent case is exactly what the SORTED run must still catch
    assert(out(3L) == ((10L, 5L, 5L, 1L, 0L, 0L)))
    assert(out(4L) == ((16L, 8L, 2L, 1L, 1L, 1L)))
  }


  test("fingerprint: identical normalized texts collide; different texts don't") {
    val df = Seq(
      (1L, "Hello   World Friend"), (2L, "hello world friend"), // same after normalize
      (3L, "totally other content")).toDF("doc_id", "text")
    val fp = TextStats.withFingerprint(df).select("doc_id", "fp_full")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }
}

class MonitoringMultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("probe: success rate + avg latency; all-fail -> None") {
    val ok = new graft.sources.FixtureApiClient(Map.empty, probeLatency = 0.5)
    val m = graft.Monitoring.probe(ok, "2026-01-01T00:00:00Z")
    assert(m.totalApis == 5 && m.apiSuccessRate == 1.0 && m.avgApiResponseTime.contains(0.5))
    val down = new graft.sources.FixtureApiClient(Map.empty, failingUrls = Set("http"))
    val m2 = graft.Monitoring.probe(down, "2026-01-01T00:00:00Z")
    assert(m2.apiSuccessRate == 0.0 && m2.avgApiResponseTime.isEmpty)
  }

  test("parseFlatJson: negative exponents survive, nested JSON rejected loudly") {
    import graft.Monitoring
    // the old number class truncated 1.5e-3 to "1.5e", which a merge-write
    // would persist as invalid JSON
    val m = Monitoring.parseFlatJson("""{"p99": 1.5e-3, "n": -2, "ok": true}""")
    assert(m("p99") == "1.5e-3" && m("n") == "-2" && m("ok") == "true")
    // nested sections cannot be represented flat: silently hoisting inner
    // keys would destroy the structure on rewrite — must throw instead
    intercept[IllegalArgumentException] {
      Monitoring.parseFlatJson("""{"extra": {"b": 1}, "c": 2}""")
    }
    intercept[IllegalArgumentException] {
      Monitoring.parseFlatJson("""{"arr": [1, 2], "c": 2}""")
    }
    // ...but a FLAT object whose string VALUES contain structural
    // characters is healthy, not nested — the r9 raw-body brace check
    // wrongly discarded such files as corrupt (ADVICE r9 #4)
    val braces = Monitoring.parseFlatJson(
      """{"msg": "got {weird} [chars]", "n": 3}""")
    assert(braces("msg") == "\"got {weird} [chars]\"" && braces("n") == "3")
    // trailing garbage that parses as neither entry nor separator is
    // corruption, not something to silently skip
    intercept[IllegalArgumentException] {
      Monitoring.parseFlatJson("""{"a": 1, garbage}""")
    }
  }

  test("metrics.json: merge preserves unknown keys; corrupt file starts fresh") {
    import graft.Monitoring
    val dir = java.nio.file.Files.createTempDirectory("graft_metrics")
    val path = s"$dir/metrics.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      """{"custom_key": "keep-me", "total_apis": 4}""")
    Monitoring.writeMetrics(path, Monitoring.Metrics(5, "2026-01-01T00:00:00Z", 0.8, Some(0.123)))
    val merged = Monitoring.parseFlatJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    assert(merged("custom_key") == "\"keep-me\"") // unknown key preserved
    assert(merged("total_apis") == "5" && merged("api_success_rate") == "0.8")
    // corrupt file -> fresh start, no crash
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), "{not json!!")
    Monitoring.writeMetrics(path, Monitoring.Metrics(5, "2026-01-02T00:00:00Z", 1.0, None))
    val fresh = Monitoring.parseFlatJson(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    assert(fresh("avg_api_response_time") == "null" && !fresh.contains("custom_key"))
  }

  test("multimodal decode: real PNG/BMP round trip recovers the exact planes") {
    import spark.implicits._
    import graft.ext.Multimodal
    val docs = Seq((7L, "abcdefgh", "x", "y", 8L)).toDF("doc_id", "text", "lang", "source", "n_chars")
    // expected plane sums straight from the pixel formula
    val (w, h) = Multimodal.imageDims(7L)
    def planeSum(c: Int) = (for (y <- 0 until h; x <- 0 until w)
      yield Multimodal.pixel(7L, x, y, c).toLong).sum
    for (fmt <- Seq("png", "bmp")) {
      val out = Multimodal.decodeDocuments(spark, docs, fmt).collect()
      assert(out.length == 1)
      val m = out(0)
      assert(m.doc_id == 7L && m.width == w && m.height == h && m.channels == 3L)
      assert((m.r_sum, m.g_sum, m.b_sum) == ((planeSum(0), planeSum(1), planeSum(2))))
      assert(m.format == fmt)
    }
    // the encoded payload really is that container format
    val png = Multimodal.syntheticImage(7L, "png")
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    val bmp = Multimodal.syntheticImage(7L, "bmp")
    assert(bmp(0) == 'B' && bmp(1) == 'M')
  }

  test("multimodal frame-sample plumbing") {
    import spark.implicits._
    import graft.ext.Multimodal
    val docs = Seq((1L, "a" * 200, "x", "y", 200L), (2L, "bc", "x", "y", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")

    val frames = Multimodal.sampleFrames(spark, Multimodal.asMedia(spark, docs), frames = 4)
      .collect().groupBy(_.doc_id)
    assert(frames(1L).length == 4)
    assert(frames(1L).map(_.n_bytes).sum == 200L) // contiguous full coverage
    assert(frames(2L).length == 2) // payload shorter than frame count
    // determinism: same input -> same checksums
    val again = Multimodal.sampleFrames(spark, Multimodal.asMedia(spark, docs), frames = 4)
      .collect().groupBy(_.doc_id)
    assert(frames(1L).map(_.checksum).toSeq == again(1L).map(_.checksum).toSeq)
  }

  test("sampleFrames: a null payload yields zero frames, not a task NPE") {
    import spark.implicits._
    val docs = Seq((1L, "real bytes here"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, Multimodal.asMedia(spark, docs), frames = 4)
      .collect()
    assert(frames.nonEmpty && frames.forall(_.doc_id == 1L),
      s"null-payload doc should emit nothing: ${frames.toSeq}")
  }

  test("sampleFrames: non-divisible payloads still cover every byte (tail in last frame)") {
    import spark.implicits._
    // 201 bytes over 4 frames: step 50, last frame [150, 201) = 51 bytes —
    // the old slicing dropped byte 200 from every frame
    val docs = Seq((9L, "x" * 201)).toDF("doc_id", "text")
    val frames = Multimodal.sampleFrames(spark, Multimodal.asMedia(spark, docs), frames = 4)
      .collect().sortBy(_.frame_idx)
    assert(frames.length == 4)
    assert(frames.map(_.n_bytes).sum == 201L,
      s"coverage incomplete: ${frames.map(_.n_bytes).toSeq}")
    assert(frames.last.n_bytes == 51L)
  }
}
