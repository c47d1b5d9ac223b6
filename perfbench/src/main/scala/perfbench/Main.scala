package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one process, one caller.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --src <program source dir> --expected <file>
  *             --recorded <dir> --out <file> --spans <file>
  *
  * Set-up runs once in the cold JVM and its store carries on: `warmup`
  * untimed ops, then the timed ops. After them set-up runs `laterSetups`
  * more times, each in a fresh session and store, so `setup_s` (the
  * median of all repetitions) rests mostly on set-ups the JIT no longer
  * shapes. With `--trace 1` every other timed op is traced and the
  * metrics are the per-layer ones; otherwise the metrics are the
  * end-to-end ones. The result goes to `--out`, the spans of a traced run
  * to `--spans`.
  */
object Main {
  val slots = 3
  val laterSetups = 2

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "ops_per_s" -> "1/s", "cpu_per_op_s" -> "s",
    "write_amp" -> "ratio", "space_amp" -> "ratio", "success_frac" -> "ratio")

  val modules: Seq[String] = Seq("io", "operators", "jobs", "ext", "functions", "sources", "bench", "other")
  val actions: Seq[String] = Seq("drop_invalid", "drop_repetition", "drop_quality",
    "drop_batch_exact", "drop_batch_neardup", "drop_exact", "drop_neardup",
    "drop_contaminated", "drop_budget", "keep")

  val perLayer: Seq[(String, String)] =
    Seq("jobs.collect_s", "jobs.engineer_s", "jobs.curate_s", "jobs.report_s",
      "io.persist_s", "io.read_back_s").map(_ -> "s") ++
    Seq("io.bytes_written" -> "B", "io.files_written" -> "count", "io.bytes_read" -> "B",
      "io.dir_bytes" -> "B", "io.live_bytes" -> "B",
      "sources.api_calls" -> "count", "sources.payload_bytes" -> "B",
      "plan.queries" -> "count", "plan.analysis_s" -> "s", "plan.optimization_s" -> "s",
      "plan.planning_s" -> "s",
      "sched.jobs" -> "count", "sched.stages" -> "count", "sched.tasks" -> "count",
      "sched.job_s" -> "s", "sched.driver_gap_s" -> "s",
      "exec.task_cpu_s" -> "s", "exec.task_run_s" -> "s", "exec.gc_s" -> "s",
      "exec.shuffle_bytes" -> "B", "exec.spill_bytes" -> "B") ++
    modules.flatMap(m => Seq(s"site.$m.jobs" -> "count", s"site.$m.job_s" -> "s")) ++
    actions.map(a => s"curate.action.$a" -> "count") ++
    Seq("curate.keep_frac" -> "ratio",
      "trace.op_p50_s" -> "s", "trace.untraced_op_p50_s" -> "s", "trace.overhead_s" -> "s")

  /** Untimed warm-up ops and timed ops per workload for a run of
    * `seconds`: the timed count is the run length over the op's nominal
    * wall time, at least two. A traced run times twice as many ops, half
    * of them traced. Four warm-up ops take the cold JVM and Spark costs
    * and most of the JIT's; op walls still sink by up to a tenth over the
    * next few ops, which a run of about a minute has no room for.
    */
  def shape(workload: String, seconds: Double, traced: Boolean): (Int, Int) = {
    val nominalOpS = workload match {
      case "daily_etl" => 4.5
      case "curate_batches" => 6.0
    }
    val timed = math.max(2, math.round(seconds / nominalOpS).toInt)
    (4, if (traced) 2 * timed else timed)
  }

  /** One op as measured: `counters` are the listener counters' deltas. */
  final case class OpRec(i: Int, timed: Boolean, traced: Boolean, wall: Double,
                         out: Outcome, bytesRead: Long, bytesWritten: Long,
                         filesWritten: Int, counters: Map[String, Double]) {
    def cpu: Double = counters.getOrElse("exec.task_cpu_s", 0.0)
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Module of a source file name: the directory under `graft/` for the
    * program's files, `bench` for the benchmark's own; None for others.
    */
  def moduleMap(src: File): String => Option[String] = {
    val byFile = mutable.Map[String, String]()
    def walk(d: File, module: Option[String]): Unit =
      Option(d.listFiles()).getOrElse(Array.empty[File]).foreach { f =>
        if (f.isDirectory) walk(f, module.orElse(Some(f.getName)))
        else if (f.getName.endsWith(".scala"))
          byFile(f.getName) = module.filter(modules.contains).getOrElse("other")
      }
    walk(new File(src, "graft"), None)
    val bench = Set("Main.scala", "Trace.scala", "Workload.scala", "DailyEtl.scala",
      "CurateBatches.scala")
    file => if (bench(file)) Some("bench") else byFile.get(file)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opts("workload")
    require(Workload.names.contains(name), s"unknown workload $name (${Workload.names.mkString(", ")})")
    val seed = opts("seed").toLong
    val traceRun = opts("trace") == "1"
    val work = new File(opts("work"))
    val (warmup, timedOps) = shape(name, opts("seconds").toDouble, traceRun)
    val moduleOf = moduleMap(new File(opts("src")))

    // ---- set-up: session start, input generation, history
    val setupTimes = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    def setUp(r: Int): (Workload, Tracer) = {
      val (wt, s) = Workload.timed {
        spark = session(work)
        val t = new Tracer(spark.sparkContext)
        val w = Workload(name, spark, new File(work, s"store$r").getPath, seed, t,
          opts("expected"), opts("recorded"))
        w.setup()
        (w, t)
      }
      setupTimes += s
      System.err.println(f"[perfbench] $name set-up $r%d $s%.3f s")
      wt
    }
    val (w, tr) = setUp(0)
    val rec = new Recorder(spark, moduleOf)
    val store = new File(w.storeDir)

    // ---- ops: warm-up, then timed; tracing on every other timed op
    val ops = (0 until warmup + timedOps).map { i =>
      val timed = i >= warmup
      val traced = traceRun && timed && (i - warmup) % 2 == 0
      w.prepare(i)
      tr.beginOp(i)
      tr.on = traced
      rec.traced = traced
      val filesBefore = if (traced) Files.list(store) else Map.empty[String, (Long, Long)]
      val c0 = rec.snapshot()
      val (r0, w0) = FsBytes()
      val (res, wall) = Workload.timed(Try(tr.span("op")(w.op(i))))
      val (r1, w1) = FsBytes()
      val c1 = rec.snapshot()
      tr.on = false
      rec.traced = false
      val out = res match {
        case Success(o) => o
        case Failure(e) =>
          e.printStackTrace()
          Outcome(Seq(s"op $i failed: $e"))
      }
      out.errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED $e"))
      val filesWritten =
        if (!traced) 0 else Files.list(store).count { case (k, v) => !filesBefore.get(k).contains(v) }
      val delta = (c1.keySet ++ c0.keySet).map(k => k -> (c1.getOrElse(k, 0.0) - c0.getOrElse(k, 0.0))).toMap
      System.err.println(f"[perfbench] $name op $i%d ${if (timed) "timed" else "warm-up"}%s " +
        f"${if (traced) "traced " else ""}%s$wall%.3f s")
      OpRec(i, timed, traced, wall, out, r1 - r0, w1 - w0, filesWritten, delta)
    }
    val finalErrors = Try(w.finalCheck()).fold(e => Map(-1 -> Seq(s"final check failed: $e")), identity)
    finalErrors.values.flatten.foreach(e => System.err.println(s"[perfbench] CHECK FAILED $e"))
    val errorsOf = (o: OpRec) => o.out.errors ++ finalErrors.getOrElse(o.i, Nil)
    val runErrors = finalErrors.getOrElse(-1, Nil)

    val timed = ops.filter(_.timed)
    // a failed check of the run as a whole counts as one failed op
    val failed = math.min(ops.size, ops.count(errorsOf(_).nonEmpty) + (if (runErrors.nonEmpty) 1 else 0))
    val files = Files.list(store)
    val dirBytes = files.values.map(_._1).sum
    val liveBytes = files.collect { case (k, (n, _)) if Files.isLive(k) => n }.sum

    val metrics: Map[String, Double] =
      if (!traceRun) {
        val walls = timed.map(_.wall)
        val subDir = new File(work, "submitted")
        val sub = w.submitted(ops.map(_.i)).coalesce(1).write.mode("overwrite")
        (if (w.format == "csv") sub.option("header", "true").csv(subDir.getPath)
         else sub.parquet(subDir.getPath))
        val subBytes = Files.list(subDir).collect { case (k, (n, _)) if Files.isLive(k) => n }.sum
        Map(
          "op_p50_s" -> median(walls),
          "ops_per_s" -> walls.size / walls.sum,
          "cpu_per_op_s" -> timed.map(_.cpu).sum / timed.size,
          "write_amp" -> ops.map(_.bytesWritten).sum.toDouble / subBytes,
          "space_amp" -> dirBytes.toDouble / liveBytes,
          "success_frac" -> (ops.size - failed).toDouble / ops.size)
      } else layerMetrics(timed, tr, rec, dirBytes, liveBytes)

    // ---- set-up again, each time in a fresh session and store
    for (r <- 1 to laterSetups) {
      spark.stop()
      setUp(r)
      Files.deleteTree(new File(work, s"store$r"))
    }
    val all = metrics + ("setup_s" -> median(setupTimes.toSeq))

    val names = if (traceRun) perLayer else endToEnd
    val json = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> ops.size,
      "failed" -> failed,
      "metrics" -> Json.obj(names.map { case (n, u) =>
        n -> Json.obj("value" -> all.getOrElse(n, 0.0), "unit" -> u)
      }: _*),
      "detail" -> Json.obj(
        "workload" -> name, "seed" -> seed, "trace" -> traceRun,
        "slots" -> slots, "heap_bytes" -> Runtime.getRuntime.maxMemory,
        "setup_reps_s" -> setupTimes.toSeq,
        "warmup_ops" -> warmup, "timed_ops" -> timed.size,
        "warmup_walls_s" -> ops.filterNot(_.timed).map(_.wall),
        "timed_walls_s" -> timed.map(_.wall),
        "errors" -> (ops.flatMap(errorsOf) ++ runErrors)))
    java.nio.file.Files.writeString(new File(opts("out")).toPath, json.s)
    if (traceRun) writeSpans(new File(opts("spans")), tr, rec)
    spark.stop()
  }

  /** Per-layer metrics: every value is per traced timed op, except the
    * directory sizes (end of run) and the trace.* comparisons.
    */
  def layerMetrics(timed: Seq[OpRec], tr: Tracer, rec: Recorder,
                   dirBytes: Long, liveBytes: Long): Map[String, Double] = {
    val traced = timed.filter(_.traced)
    val n = traced.size.toDouble
    val ids = traced.map(_.i).toSet
    val opSpans = tr.spans.filter(s => s.name == "op" && ids(s.op)).map(s => s.op -> s).toMap
    val spanSums = tr.spans.filter(s => ids(s.op) && s.name != "op")
      .groupBy(_.name).map { case (k, ss) => s"${k}_s" -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum / n }
    val counters = traced.flatMap(_.counters).groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / n }
    val outcomes = traced.flatMap(_.out.counters).groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / n }
    val jobUnion = traced.map { o =>
      val sp = opSpans(o.i)
      union(rec.jobs.filter(_.op == o.i).map(j =>
        (math.max(j.startNs, sp.startNs), math.min(if (j.endNs < 0) sp.endNs else j.endNs, sp.endNs))).toSeq) / 1e9
    }
    val tracedP50 = median(traced.map(_.wall))
    val untracedP50 = median(timed.filterNot(_.traced).map(_.wall))
    counters ++ outcomes ++ spanSums ++ Map(
      "io.bytes_written" -> traced.map(_.bytesWritten).sum / n,
      "io.bytes_read" -> traced.map(_.bytesRead).sum / n,
      "io.files_written" -> traced.map(_.filesWritten).sum / n,
      "io.dir_bytes" -> dirBytes.toDouble,
      "io.live_bytes" -> liveBytes.toDouble,
      "sched.job_s" -> jobUnion.sum / n,
      "sched.driver_gap_s" -> traced.zip(jobUnion).map { case (o, u) => o.wall - u }.sum / n,
      "trace.op_p50_s" -> tracedP50,
      "trace.untraced_op_p50_s" -> untracedP50,
      "trace.overhead_s" -> (tracedP50 - untracedP50))
  }

  /** Self time of every span: its duration minus the part of it that its
    * child spans and the jobs it submitted directly cover.
    */
  def selfTime(tr: Tracer, rec: Recorder): Map[Int, Double] = {
    val kids = tr.spans.groupBy(_.parent)
    val jobs = rec.jobs.groupBy(_.span)
    tr.spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)) ++
        jobs.getOrElse(s.id, Nil).map(j => (j.startNs, if (j.endNs < 0) s.endNs else j.endNs))
      val clipped = iv.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      s.id -> (s.endNs - s.startNs - union(clipped.toSeq)) / 1e9
    }.toMap
  }

  def writeSpans(f: File, tr: Tracer, rec: Recorder): Unit = {
    val self = selfTime(tr, rec)
    val json = Json.obj(
      "spans" -> tr.spans.toSeq.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
        "dur_s" -> (s.endNs - s.startNs) / 1e9, "self_s" -> self(s.id))),
      "jobs" -> rec.jobs.toSeq.map(j => Json.obj(
        "id" -> j.id, "op" -> j.op, "span" -> j.span, "module" -> j.module, "site" -> j.site,
        "start_ms" -> j.startNs / 1e6, "end_ms" -> j.endNs / 1e6)))
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, json.s)
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  final case class Raw(s: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, v) => s"${str(k)}: ${render(v)}" }
    .mkString("{", ", ", "}"))
  private def str(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
