package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.jobs.{CurateJob, CurateParams}

/** A generated document. `planted` names what the batch generator made
  * it: fresh text, or a copy the curation must drop.
  */
final case class Doc(id: Long, source: String, text: String, planted: String = "fresh")

/** Synthetic corpus text over a fixed vocabulary of two- and
  * three-syllable words, drawn with a mild skew toward its front. Which
  * words a document holds comes from the caller's seeded generator; its
  * length comes from its id, so every seed gives batches of the same
  * length profile.
  */
object TextGen {
  private val syl = Array("ka", "lo", "mi", "ner", "tos", "va", "bri", "sul", "den",
    "por", "qui", "zen", "fa", "gor", "hil", "jun", "mek", "nos", "pla", "rud")
  private val vocabSize = 4000
  private val vocab: Array[String] = {
    val r = new SplittableRandom(7)
    Array.fill(vocabSize)((0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.length))).mkString)
  }
  def words(r: SplittableRandom, n: Int): Seq[String] =
    Seq.fill(n)(vocab((vocabSize * math.pow(r.nextDouble(), 1.5)).toInt))
  /** 40 to 159 words, spread evenly over consecutive ids. */
  def text(r: SplittableRandom, id: Long): String = words(r, 40 + (id * 37 % 120).toInt).mkString(" ")
  /** `t` with one word replaced: a near-duplicate well above Jaccard 0.5. */
  def edit(r: SplittableRandom, t: String): String = {
    val ws = t.split(" ")
    ws(r.nextInt(ws.length)) = words(r, 1).head
    ws.mkString(" ")
  }
}

/** Corpus curation: each op curates a seeded batch against a corpus that
  * grows by every batch's kept docs, persists the decisions and the
  * per-source report as parquet, and reads them back.
  *
  * Batches carry planted cases: a null text, repetitive and tiny docs,
  * exact and near copies of corpus docs, and exact and near copies of
  * other docs of the same batch.
  */
final class CurateBatches(spark: SparkSession, dir: String, seed: Long, tr: Tracer,
                          expected: Map[Long, Seq[String]], recorded: String) extends Workload {
  import CurateBatches._
  private val gen = TextGen
  private val corpus = mutable.ArrayBuffer[Doc]()
  private var nextId = 1L
  private var batch: Seq[Doc] = Nil
  private val batches = mutable.Map[Int, Seq[Doc]]()
  private val actionsByOp = mutable.Map[Int, Map[String, Long]]()
  private def corpusPath = s"$dir/corpus"

  private def fresh(r: SplittableRandom): Doc = {
    val d = Doc(nextId, sources(r.nextInt(sources.length)), gen.text(r, nextId))
    nextId += 1
    d
  }

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map(d => Row(d.id, d.source, d.text)): _*),
      StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
        StructField("text", StringType))))

  def setup(): Unit = {
    val r = new SplittableRandom(seed)
    corpus ++= Seq.fill(corpusDocs)(fresh(r))
    frame(corpus.toSeq).repartition(3).write.parquet(corpusPath)
  }

  override def prepare(i: Int): Unit = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val docs = mutable.ArrayBuffer[Doc]()
    def add(planted: String, source: String, text: String): Unit = {
      docs += Doc(nextId, source, text, planted)
      nextId += 1
    }
    def pick[T](xs: collection.IndexedSeq[T]): T = xs(r.nextInt(xs.length))
    add("null", "web", null)
    (1 to 6).foreach(k => add("repetitive", "web", ("buy now cheap " * (8 + k)).trim))
    (1 to 6).foreach(_ => add("tiny", "news", gen.words(r, 2 + r.nextInt(4)).mkString(" ")))
    (1 to 12).foreach { _ => val c = pick(corpus); add("corpus_exact", c.source, c.text) }
    (1 to 12).foreach { _ => val c = pick(corpus); add("corpus_near", c.source, gen.edit(r, c.text)) }
    while (docs.size < batchDocs - 12) docs += fresh(r)
    val firsts = docs.filter(_.planted == "fresh").toIndexedSeq
    (1 to 6).foreach { _ => val c = pick(firsts); add("batch_exact", c.source, c.text) }
    (1 to 6).foreach { _ => val c = pick(firsts); add("batch_near", c.source, gen.edit(r, c.text)) }
    batch = docs.toSeq
    batches(i) = batch
  }

  def op(i: Int): Outcome = {
    val out = s"$dir/out"
    val decisions = tr.span("jobs.curate")(
      CurateJob.curate(frame(batch), spark.read.parquet(corpusPath), params)
        .localCheckpoint(true))
    tr.span("jobs.report")(
      CurateJob.report(decisions).write.mode("overwrite").parquet(s"$out/report"))
    tr.span("io.persist") {
      decisions.write.mode("overwrite").parquet(s"$out/decisions")
      frame(batch).join(decisions.where(col("action") === "keep").select("doc_id"), "doc_id")
        .write.mode("append").parquet(corpusPath)
    }
    val (actions, report) = tr.span("io.read_back") {
      val actions = spark.read.parquet(s"$out/decisions").select("doc_id", "action")
        .collect().map(r => r.getLong(0) -> r.getString(1))
      val report = spark.read.parquet(s"$out/report")
        .agg(sum("n_in"), sum("n_kept")).head()
      (actions, report)
    }
    val byId = actions.toMap
    val counts = actions.groupBy(_._2).map { case (a, xs) => a -> xs.length.toLong }
    actionsByOp(i) = counts
    val kept = batch.filter(d => byId.get(d.id).contains("keep"))
    corpus ++= kept
    def wrong(planted: String, ok: String => Boolean) =
      batch.filter(_.planted == planted).filterNot(d => byId.get(d.id).exists(ok))
    val errors = Seq(
      s"${actions.length} decisions for ${batch.size} docs" -> (actions.length != batch.size),
      s"decision doc ids not unique" -> (byId.size != actions.length),
      s"decisions cover other docs" -> batch.exists(d => !byId.contains(d.id)),
      s"report counts ${report.get(0)} docs, ${report.get(1)} kept" ->
        (report.getLong(0) != batch.size || report.getLong(1) != kept.size),
      s"null text not drop_invalid" -> wrong("null", _ == "drop_invalid").nonEmpty,
      s"planted copies kept: ${mustDrop.flatMap(p => wrong(p, _ != "keep").map(d => s"$p#${d.id}"))
        .mkString(",")}" -> mustDrop.exists(p => wrong(p, _ != "keep").nonEmpty)
    ).collect { case (msg, true) => s"op $i: $msg" }
    Outcome(errors,
      counts.map { case (a, n) => s"curate.action.$a" -> n.toDouble } +
        ("curate.keep_frac" -> kept.size.toDouble / batch.size))
  }

  /** Action counts repeat exactly for a seed. For the seeds listed in
    * the committed `expected` file they must equal the counts recorded
    * there, so a change that moves any decision fails the run. For other
    * seeds the first run in a checkout records them in `recorded` and
    * every later run must match: that only detects nondeterminism.
    */
  override def finalCheck(): Map[Int, Seq[String]] = {
    val now = actionsByOp.toSeq.sortBy(_._1).map { case (i, c) =>
      s"$i " + c.toSeq.sorted.map { case (a, n) => s"$a=$n" }.mkString(" ")
    }
    def compare(before: Seq[String], where: String) = {
      val n = math.min(before.size, now.size)
      before.take(n).zip(now.take(n)).zipWithIndex.collect {
        case ((b, a), i) if b != a => i -> Seq(s"action counts differ from $where for seed $seed: [$b] vs [$a]")
      }.toMap
    }
    val committed = expected.get(seed)
    val f = new java.io.File(recorded, s"curate_batches-seed$seed.txt")
    if (committed.isDefined) compare(committed.get, "the committed expectation")
    else if (f.exists()) compare(scala.io.Source.fromFile(f).getLines().toSeq, "an earlier run")
    else {
      f.getParentFile.mkdirs()
      java.nio.file.Files.writeString(f.toPath, now.mkString("\n"))
      Map.empty
    }
  }

  def format: String = "parquet"

  def submitted(ops: Seq[Int]): DataFrame = frame(ops.flatMap(batches))

  def storeDir: String = dir
}

object CurateBatches {
  val corpusDocs = 500
  val batchDocs = 250
  val sources: Array[String] = Array("web", "books", "code", "news")
  val params: CurateParams = CurateParams(budgetTokens = 4000)
  /** Planted cases no curation may keep: each is a repeat, too short, or
    * an exact or near copy of a corpus doc or of an earlier batch doc.
    */
  val mustDrop: Seq[String] =
    Seq("repetitive", "tiny", "corpus_exact", "corpus_near", "batch_exact", "batch_near")

  /** Committed per-op action counts by seed: lines `<seed> <op> <action>=<n> ...`. */
  def loadExpected(f: java.io.File): Map[Long, Seq[String]] =
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f).getLines().map(_.trim).filter(_.nonEmpty)
      .map(l => l.split(" ", 2)).toSeq
      .groupMap(_(0).toLong)(_(1))
}
