package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev tool: attribute a declared query's WALL time to Spark jobs vs the
  * driver-side gaps between them (Catalyst planning, AQE re-planning,
  * checkpoint-round scheduling). The curate-family queries are gap-bound
  * at fixture scale (PLANS.md), so optimizing them means watching the job
  * COUNT and the inter-job idle, not task time — this prints exactly that.
  *
  * Usage: `Profile <sfDir> <queryName> [queryName ...]` — runs each query
  * once unmeasured (JIT/codegen warm), then once measured, and prints one
  * line per query: wall, #jobs, summed job span, inter-job idle, the
  * executor CPU total (listener-fed, bus drained), and the classes Spark
  * compiled during the measured run. The warm run filled Spark's codegen
  * cache, so a nonzero `compiles` means the query's plans vary from run to
  * run (a literal written into generated code) or need more classes than
  * the cache holds (`spark.sql.codegen.cache.maxEntries`, 100 by default).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryName> [...]")
    val sfDir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
    // ad-hoc conf overrides for A/B experiments: "k=v;k=v"
    sys.env.get("GRAFT_PROFILE_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val jobDescs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val cpu = new java.util.concurrent.atomic.AtomicLong()
    // per-stage: (n_tasks, summed task ms, max task ms, summed cpu ms)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, Array(e.time, -1L))
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobDescs.put(e.jobId, d)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val a = jobs.get(e.jobId); if (a != null) a(1) = e.time
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics; if (m != null) cpu.addAndGet(m.executorCpuTime)
        if (e.taskInfo != null) {
          val a = stages.computeIfAbsent(e.stageId, _ => Array(0L, 0L, 0L, 0L))
          a.synchronized {
            a(0) += 1; a(1) += e.taskInfo.duration
            a(2) = math.max(a(2), e.taskInfo.duration)
            if (m != null) a(3) += m.executorCpuTime / 1000000L
          }
        }
      }
    })
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
    def clear(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
    }
    args.tail.foreach { name =>
      run(name); clear() // warm
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      jobs.clear(); jobDescs.clear(); cpu.set(0); stages.clear()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.currentTimeMillis()
      run(name)
      val t1 = System.currentTimeMillis()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      clear()
      import scala.jdk.CollectionConverters._
      val spans = jobs.values.asScala.toSeq.filter(_(1) >= 0).sortBy(_(0))
      // inter-job idle: wall minus the union of job spans (jobs can overlap)
      var covered = 0L; var cursor = t0
      spans.foreach { case Array(s, e) =>
        val s2 = math.max(s, cursor)
        if (e > s2) { covered += e - s2; cursor = e } else cursor = math.max(cursor, e)
      }
      val wall = t1 - t0
      println(f"$name%-28s wall=${wall / 1000.0}%6.2fs jobs=${spans.size}%3d " +
        f"job_span=${covered / 1000.0}%6.2fs driver_gap=${(wall - covered) / 1000.0}%6.2fs " +
        f"cpu=${cpu.get / 1e9}%6.2fs compiles=$compiles%4d")
      // per-job timeline: start offset into the measured window, duration,
      // driver gap SINCE THE PREVIOUS JOB'S END, and the job's call site /
      // description — the view that attributes the inter-job idle to a
      // specific statement in the operator under test
      if (sys.env.get("GRAFT_PROFILE_JOBS").contains("1")) {
        var prevEnd = t0
        jobs.asScala.toSeq.filter(_._2(1) >= 0).sortBy(_._2(0)).foreach {
          case (jid, Array(s, e)) =>
            val gap = math.max(0L, s - prevEnd)
            println(f"  job $jid%4d +${(s - t0) / 1000.0}%7.3fs " +
              f"dur=${(e - s) / 1000.0}%6.3fs gap=${gap / 1000.0}%6.3fs " +
              jobDescs.getOrDefault(jid, "").take(100))
            prevEnd = math.max(prevEnd, e)
        }
      }
      if (sys.env.get("GRAFT_PROFILE_STAGES").contains("1")) {
        stages.asScala.toSeq.sortBy(-_._2(1)).take(12).foreach { case (sid, a) =>
          println(f"  stage $sid%4d n=${a(0)}%4d task_sum=${a(1) / 1000.0}%7.2fs " +
            f"task_max=${a(2) / 1000.0}%6.2fs cpu_sum=${a(3) / 1000.0}%7.2fs")
        }
      }
    }
    spark.stop()
  }
}
