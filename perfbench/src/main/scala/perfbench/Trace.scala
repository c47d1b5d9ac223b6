package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call at a layer boundary. Times are wall-clock nanoseconds
  * on the `Clock` scale, so listener job times (epoch ms) line up.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, var endNs: Long = -1L)

/** A Spark job as the listener saw it, tagged with the op and span that
  * submitted it and the program module its call site lies in.
  */
final case class JobRec(id: Int, op: Int, span: Int, module: String, site: String,
                        startNs: Long, var endNs: Long = -1L)

object Clock {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs
  def fromMs(ms: Long): Long = ms * 1000000L
}

/** Spans around the calls the benchmark makes into each layer. Kept in
  * memory and written out at exit; recording only while `on`. The span id
  * rides the driver thread's local properties, so the listener can tag
  * every job with the span that submitted it.
  */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var on = false
  private var stack = List.empty[Int]
  private var op = -1

  def beginOp(i: Int): Unit = {
    op = i
    sc.setLocalProperty("perfbench.op", i.toString)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), op, Clock.nowNs)
      spans += s
      stack = s.id :: stack
      sc.setLocalProperty("perfbench.span", s.id.toString)
      try body
      finally {
        s.endNs = Clock.nowNs
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
      }
    }
}

/** Listener-fed counters. Executor CPU is always summed (it is an
  * end-to-end metric); jobs, stages, tasks, planning phases and call-site
  * attribution are counted only while `traced`.
  */
final class Recorder(spark: SparkSession, moduleOf: String => Option[String]) {
  @volatile var traced = false
  private val sums = mutable.Map[String, Double]().withDefaultValue(0.0)
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val byId = mutable.Map[Int, JobRec]()
  private val execSite = mutable.Map[Long, (String, String)]()
  private val frame = raw"\(([^():]+\.(?:scala|java)):\d+\)".r

  /** (module, frame) of the innermost program or benchmark frame of a
    * call stack.
    */
  private def siteOf(stack: String): Option[(String, String)] =
    frame.findAllMatchIn(stack).flatMap(m => moduleOf(m.group(1)).map(_ -> m.group(0))).nextOption()

  /** Listener callbacks arrive on bus threads: every access to the
    * counters and job records holds the recorder's lock.
    */
  private def locked[T](body: => T): T = Recorder.this.synchronized(body)
  private def add(k: String, v: Double): Unit = sums(k) = sums(k) + v

  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) locked {
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        if (traced) {
          add("sched.tasks", 1)
          add("exec.task_run_s", m.executorRunTime / 1e3)
          add("exec.gc_s", m.jvmGCTime / 1e3)
          add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (traced) locked(add("sched.stages", 1))
    // a SQL execution records the caller's stack on the thread that ran
    // the action; its jobs may run on other threads (broadcasts, AQE), so
    // jobs take the module of their execution when they have one
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if traced =>
        locked {
          val root = s.rootExecutionId.filter(_ != s.executionId).flatMap(execSite.get)
          siteOf(s.details).orElse(root).foreach(execSite(s.executionId) = _)
        }
      case _ => ()
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val (module, site) = locked(prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong)))
        .orElse(prop("callSite.long").flatMap(siteOf))
        .orElse(e.stageInfos.flatMap(s => siteOf(s.details)).headOption)
        .getOrElse(("other", ""))
      val j = JobRec(e.jobId, prop("perfbench.op").map(_.toInt).getOrElse(-1),
        prop("perfbench.span").map(_.toInt).getOrElse(-1), module, site, Clock.fromMs(e.time))
      locked {
        jobs += j
        byId(e.jobId) = j
        add("sched.jobs", 1)
        add(s"site.$module.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) locked {
      byId.remove(e.jobId).foreach { j =>
        j.endNs = Clock.fromMs(e.time)
        add(s"site.${j.module}.job_s", (j.endNs - j.startNs) / 1e9)
      }
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = if (traced) {
      val phases = qe.tracker.phases
      locked {
        add("plan.queries", 1)
        for (p <- Seq("analysis", "optimization", "planning"))
          phases.get(p).foreach(s => add(s"plan.${p}_s", s.durationMs / 1e3))
      }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(planning)

  /** Counter values once every event posted so far is delivered. */
  def snapshot(): Map[String, Double] = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    locked(sums.toMap)
  }
}

/** Bytes moved through Hadoop file systems (every store read and write in
  * local mode goes through them; shuffle and checkpoint blocks do not).
  */
object FsBytes {
  import scala.jdk.CollectionConverters._
  @annotation.nowarn("cat=deprecation")
  def apply(): (Long, Long) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (all.map(_.getBytesRead).sum, all.map(_.getBytesWritten).sum)
  }
}

/** Files under a directory: relative path -> (bytes, mtime). */
object Files {
  def list(root: java.io.File): Map[String, (Long, Long)] = {
    val out = mutable.Map[String, (Long, Long)]()
    def walk(d: java.io.File, prefix: String): Unit =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
        val rel = prefix + f.getName
        if (f.isDirectory) walk(f, rel + "/") else out(rel) = (f.length(), f.lastModified())
      }
    walk(root, "")
    out.toMap
  }

  /** A file the current table state reads: a data part file none of
    * whose path components is hidden (`.`/`_` prefixed: retired files,
    * manifests, journals, checksums, markers).
    */
  def isLive(rel: String): Boolean = {
    val parts = rel.split('/')
    parts.forall(p => !p.startsWith(".") && !p.startsWith("_")) &&
      parts.last.startsWith("part-")
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
