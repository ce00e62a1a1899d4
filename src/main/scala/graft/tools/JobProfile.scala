package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Driver-overhead and attempt-variance decomposition for one query:
  * runs ONE named query in a warmed JVM and prints, per attempt, the
  * number of Spark JOBS, STAGES and tasks it ran, the executor run time
  * and task-side GC of those tasks, the JVM's GC time, the task occupancy
  * (executor run time / (wall × cpus)), the wall covered by at least one
  * running job vs the wall covered by none (= pure driver think time:
  * Catalyst planning, codegen, commit/checkpoint I/O, foreachBatch
  * orchestration), and the top job-gap spans. This splits "low
  * occupancy" (the 0.03-0.14 family of iterative folds) into (a) gaps
  * BETWEEN jobs (driver work between actions), (b) idle cores DURING jobs
  * (micro-stages / skew) and (c) GC pressure, which point at different
  * fixes, and shows which of them a slow attempt of a spread-out query
  * owes its time to.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.JobProfile qc8 2"
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val prefix = if (args.nonEmpty) args(0) else "qc8"
    val n = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // ad-hoc session-conf overrides for A/B probes:
    //   SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false,..."
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(',').filter(_.nonEmpty)
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        println(s"[jobprofile] conf $k=$v")
        spark.conf.set(k, v)
      })

    case class Span(start: Long, var end: Long, desc: String = "",
      nTasks: Int = 0)
    val jobs = mutable.Map[Int, Span]()
    val done = mutable.ArrayBuffer[Span]()
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val taskRunMs = new java.util.concurrent.atomic.AtomicLong(0)
    val taskGcMs = new java.util.concurrent.atomic.AtomicLong(0)
    def jvmGcMs: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized {
          val d = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.nonEmpty)
            .orElse(e.stageInfos.lastOption.map(_.name).filter(_.nonEmpty))
            .getOrElse("")
          jobs(e.jobId) = Span(e.time, -1, d,
            e.stageInfos.map(_.numTasks).sum)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.remove(e.jobId).foreach { s => s.end = e.time; done += s }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(e.taskMetrics).foreach { m =>
          taskRunMs.addAndGet(m.executorRunTime)
          taskGcMs.addAndGet(m.jvmGCTime)
        }
      }
    })

    val (name, fn) = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .find(_._1.startsWith(prefix))
      .getOrElse(sys.error(s"no query starts with '$prefix'"))
    println(s"[jobprofile] $name x$n at $sfDir cpus=$cpus")
    fn(spark, sfDir).collect() // warmup
    for (i <- 1 to n) {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      done.synchronized(done.clear())
      stages.set(0)
      tasks.set(0)
      taskRunMs.set(0)
      taskGcMs.set(0)
      val gc0 = jvmGcMs
      val w0 = System.currentTimeMillis()
      fn(spark, sfDir).count()
      val w1 = System.currentTimeMillis()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val jvmGc = jvmGcMs - gc0
      val spans = done.synchronized(done.toVector)
        .filter(s => s.end >= w0 && s.start <= w1)
        .sortBy(_.start)
      // merge job spans; collect gaps with no job running
      var covered = 0L
      var gaps = mutable.ArrayBuffer[(Long, Long)]()
      var cur = w0
      for (s <- spans) {
        if (s.start > cur) gaps += ((cur, s.start))
        covered += math.min(s.end, w1) - math.max(s.start, cur).min(s.end)
        cur = math.max(cur, s.end)
      }
      if (cur < w1) gaps += ((cur, w1))
      val gapTotal = gaps.map(g => g._2 - g._1).sum
      val wall = w1 - w0
      println(f"[jobprofile] attempt=$i wall=${wall / 1e3}%.2fs jobs=${spans.size} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"task_time=${taskRunMs.get / 1e3}%.2fs task_gc=${taskGcMs.get / 1e3}%.2fs " +
        f"jvm_gc=${jvmGc / 1e3}%.2fs occ=${taskRunMs.get.toDouble / (wall * cpus)}%.2f " +
        f"job_covered=${(wall - gapTotal) / 1e3}%.2fs between_jobs=${gapTotal / 1e3}%.2fs " +
        f"top_gaps=${gaps.sortBy(g => g._1 - g._2).take(5).map(g => f"${(g._2 - g._1) / 1e3}%.2f").mkString(",")}")
      // the slowest jobs with their call sites / descriptions: which
      // actions own the covered time (only printed on the last attempt)
      if (i == n) {
        spans.sortBy(s => s.start - s.end).take(12).foreach { s =>
          println(f"[jobprofile]   job=${(s.end - s.start) / 1e3}%.2fs " +
            f"tasks=${s.nTasks} ${s.desc.take(100)}")
        }
        // full call-site aggregation: jobs and covered seconds per site
        spans.groupBy(_.desc.take(100)).toSeq
          .map { case (d, ss) =>
            (ss.size, ss.map(s => s.end - s.start).sum / 1e3, d) }
          .sortBy(-_._2)
          .foreach { case (cnt, sec, d) =>
            println(f"[jobsite] n=$cnt%3d sec=$sec%6.2f $d") }
      }
    }
    spark.stop()
  }
}
