package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.io.ListingCountingFs
import graft.ext.Sampling

/** End-to-end curation golden: a synthetic batch engineered to hit every
  * decision branch exactly once (repetition, quality rules, exact dup,
  * near dup vs the train corpus, contamination vs the eval split, keep),
  * plus a tiny-budget run for the budget branch. The eval/train targets are
  * discovered through the SAME hash split the job uses, so the fixture
  * stays valid whatever md5 assigns.
  */
class CurateJobSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 40 corpus docs of 30 mutually-distinct words: no accidental cross-doc
  // near-dups, every doc ~30 tokens
  private def words(docTag: String): String =
    (1 to 30).map(w => s"${docTag}w$w").mkString(" ")
  private lazy val corpus = (1L to 40L)
    .map(i => (i, s"src${i % 2}", words(s"c$i"))).toDF("doc_id", "source", "text")

  /** (two distinct train-split corpus docs, an eval-split corpus doc),
    * discovered via the job's own split function. Two train targets keep
    * the exact-dup and corpus-near-dup showcases from colliding in the
    * within-batch near stage (1002 and 1003 must not be near-dups of each
    * other).
    */
  private lazy val (trainDoc, trainDoc2, evalDoc) = {
    val sp = Sampling.withSplit(corpus, "doc_id", 0.8, 0.1, "split")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1))
    val train = sp.collect { case (id, "train") => id }
    (train(0), train(1), sp.collectFirst { case (id, "test") => id }.get)
  }

  /** `base` with its last word replaced: 3 of 28 shingles differ, Jaccard
    * ~0.81 >= 0.5, length within tol — a near-dup that is not exact.
    */
  private def nearDupOf(base: String): String =
    base.split(" ").dropRight(1).mkString(" ") + " changed"

  private def batch = Seq(
    (1001L, "src0", ("buy now " * 14).trim),                   // drop_repetition
    (1002L, "src0", words(s"c$trainDoc")),                     // drop_exact
    (1003L, "src1", nearDupOf(words(s"c$trainDoc2"))),         // drop_neardup
    (1004L, "src1", nearDupOf(words(s"c$evalDoc"))),           // drop_contaminated
    (1005L, "src0", words("u5")),                              // keep
    (1006L, "src1", words("u6")),                              // keep
    (1007L, "src0", "tiny doc"),                               // drop_quality (2 < 10 words)
    (1008L, "src1", words("u5")),                              // drop_batch_exact (copy of 1005)
    (1009L, "src0", nearDupOf(words("u6")))                    // drop_batch_neardup (near 1006)
  ).toDF("doc_id", "source", "text")

  test("curate: every decision branch fires, one row per incoming doc") {
    val p = CurateParams(budgetTokens = 1e9) // budget never binds here
    val out = CurateJob.curate(batch, corpus, p)
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
          r.isNullAt(6), r.isNullAt(7))).toMap

    assert(out.size == 9) // exactly one decision per batch doc
    assert(out(1001L)._1 == "drop_repetition")
    assert(out(1007L)._1 == "drop_quality")
    assert(out(1002L) == (("drop_exact", Some(trainDoc), true, true)))
    assert(out(1003L) == (("drop_neardup", Some(trainDoc2), true, true)))
    assert(out(1004L) == (("drop_contaminated", Some(evalDoc), true, true)))
    assert(out(1005L)._1 == "keep" && !out(1005L)._3 && !out(1005L)._4)
    assert(out(1006L)._1 == "keep" && !out(1006L)._3 && !out(1006L)._4)
    // within-batch duplicates never reach "keep": the min-id copy wins
    assert(out(1008L) == (("drop_batch_exact", Some(1005L), true, true)))
    assert(out(1009L) == (("drop_batch_neardup", Some(1006L), true, true)))
  }

  test("manifestsOnly: manifest rows == manifests over the decision frame's keep rows") {
    // the x36 invariance law: aggregating the packed keep-frame straight
    // off the stage chain (with the drop-only checkpoint skipped) must
    // yield byte-identical manifests to filtering action = 'keep' out of
    // the decision union and re-deriving them
    val p = CurateParams(budgetTokens = 1e9)
    val fromDecisions = CurateJob.manifests(
      CurateJob.curate(batch, corpus, p).where(col("action") === "keep"), p.packSalt)
    val a = CurateJob.manifestsOnly(batch, corpus, p).collect().map(_.toSeq).toSet
    val b = fromDecisions.collect().map(_.toSeq).toSet
    assert(a == b, s"manifest mismatch:\n  chain: $a\n  union: $b")
    assert(a.nonEmpty, "fixture produced no kept sequences — law checked nothing")
  }

  test("curate and manifestsOnly each scan the corpus once") {
    // the corpus is cleaned once per call and its three reads (exact tier,
    // train pairs, eval pairs) share one checkpoint; counted as opens of
    // the corpus's files relative to one plain scan of its text
    ListingCountingFs.register(spark)
    val dir = Files.createTempDirectory("graft_curate_scans").toString
    corpus.repartition(3).write.parquet(s"$dir/corpus")
    val stored = spark.read.parquet(s"countfs://$dir/corpus")
    def opens(run: => Unit): Int = {
      ListingCountingFs.clear()
      run
      ListingCountingFs.opened.toArray.count(_.toString.startsWith(s"$dir/corpus/"))
    }
    val plain = opens(stored.agg(sum(length(col("text")))).collect())
    assert(plain > 0, "the plain scan opened no corpus file")
    val p = CurateParams(budgetTokens = 1e9)
    val curated = opens(CurateJob.curate(batch, stored, p).collect())
    val manifested = opens(CurateJob.manifestsOnly(batch, stored, p).collect())
    assert(curated == plain && manifested == plain,
      s"corpus scans per call: curate ${curated.toDouble / plain}, " +
        s"manifestsOnly ${manifested.toDouble / plain}")
  }

  test("curate: a null-text doc gets a drop_invalid decision, never vanishes") {
    // every downstream predicate is null-blind, so before the explicit
    // branch this doc fell out of EVERY stage and the decision frame lost
    // a row silently
    val withNull = batch.unionByName(
      Seq((2000L, "src0")).toDF("doc_id", "source")
        .withColumn("text", lit(null).cast("string")))
    val out = CurateJob.curate(withNull, corpus, CurateParams(budgetTokens = 1e9))
    assert(out.count() == withNull.count(), "decision frame lost or gained rows")
    val row = out.where(col("doc_id") === 2000L).collect()
    assert(row.length == 1 && row(0).getString(2) == "drop_invalid")
    val rep = CurateJob.report(out)
    assert(rep.select(sum("n_drop_invalid")).head.getLong(0) == 1L)
  }

  test("curate: tiny token budget drops the survivors as drop_budget") {
    val p = CurateParams(budgetTokens = 1.0) // threshold ~1/30 per doc
    val actions = CurateJob.curate(batch, corpus, p)
      .groupBy("action").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the early-stage decisions are budget-independent
    assert(actions.getOrElse("drop_repetition", 0L) == 1L)
    assert(actions.getOrElse("drop_quality", 0L) == 1L)
    assert(actions.getOrElse("drop_batch_exact", 0L) == 1L)
    assert(actions.getOrElse("drop_batch_neardup", 0L) == 1L)
    assert(actions.getOrElse("drop_exact", 0L) == 1L)
    assert(actions.getOrElse("drop_neardup", 0L) == 1L)
    assert(actions.getOrElse("drop_contaminated", 0L) == 1L)
    assert(actions.getOrElse("drop_budget", 0L) +
      actions.getOrElse("keep", 0L) == 2L)
    assert(actions.getOrElse("drop_budget", 0L) >= 1L)
  }

  test("RunCurate main: parquet in -> decisions + report parquet out") {
    val dir = Files.createTempDirectory("graft_curate").toString
    batch.write.mode("overwrite").parquet(s"$dir/batch")
    corpus.write.mode("overwrite").parquet(s"$dir/corpus")
    RunCurate.main(Array(s"$dir/batch", s"$dir/corpus", s"$dir/out"))
    // RunCurate stops its own session; reacquire for assertions
    val s2 = TestSpark.spark
    val dec = s2.read.parquet(s"$dir/out/decisions")
    assert(dec.count() == 9)
    val rep = s2.read.parquet(s"$dir/out/report")
    assert(rep.columns.contains("n_drop_batch_exact") && rep.count() == 2)
  }

  test("report: per-source counts reconcile with the decision frame") {
    val p = CurateParams(budgetTokens = 1e9)
    val decisions = CurateJob.curate(batch, corpus, p).localCheckpoint(true)
    val rep = CurateJob.report(decisions)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(rep.keySet == Set("src0", "src1"))
    val totalIn = rep.values.map(_.getAs[Long]("n_in")).sum
    assert(totalIn == 9L)
    val totalKept = rep.values.map(_.getAs[Long]("n_kept")).sum
    assert(totalKept == 2L)
    // kept token mass equals the decision frame's kept n_tokens sum
    val keptTokens = decisions.where(col("action") === "keep")
      .agg(sum("n_tokens")).head().getLong(0)
    assert(rep.values.map(_.getAs[Long]("kept_tokens")).sum == keptTokens)
  }
}
