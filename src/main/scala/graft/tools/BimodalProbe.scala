package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Attempt-variance instrumentation for the iterative queries whose
  * warmed bench attempts spread 3-4x (q6k, qaw, qb4 in the round-13
  * artifacts): runs ONE named query N times in a warmed JVM and prints
  * per-attempt wall, JVM GC delta, executor task-time delta, and
  * task-side GC delta — enough to split the spread into (a) real
  * executor work, (b) GC pressure, (c) scheduling/driver gaps (wall
  * minus task time / parallelism). The q8p investigation (round 12)
  * found a re-executed training subtree this way; this tool makes the
  * same experiment one command:
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.BimodalProbe q6k 10"
  */
object BimodalProbe {

  def main(args: Array[String]): Unit = {
    val prefix = if (args.nonEmpty) args(0) else "q6k"
    val n = if (args.length > 1) args(1).toInt else 10
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val taskTime = new AtomicLong(0L) // executor run time, ms
    val taskGc = new AtomicLong(0L)   // executor JVM GC time, ms
    val tasks = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          taskTime.addAndGet(m.executorRunTime)
          taskGc.addAndGet(m.jvmGCTime)
          tasks.incrementAndGet()
        }
      }
    })
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    val (name, fn) = graft.SparkEntry.queries
      .find(_._1.startsWith(prefix))
      .getOrElse(sys.error(s"no query starts with '$prefix'"))
    println(s"[bimodal] $name x$n at $sfDir cpus=$cpus")
    // one unmeasured warmup attempt (JIT + codegen + shuffle services)
    fn(spark, sfDir).collect()
    for (i <- 1 to n) {
      val (g0, t0, tg0, k0) = (gcMs, taskTime.get, taskGc.get, tasks.get)
      val w0 = System.nanoTime()
      val rows = fn(spark, sfDir).collect().length
      val wall = (System.nanoTime() - w0) / 1e9
      // listener events arrive asynchronously: wait until all have landed
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val driverGc = gcMs - g0
      val tt = (taskTime.get - t0) / 1e3
      val tg = (taskGc.get - tg0) / 1e3
      val k = tasks.get - k0
      println(f"[bimodal] attempt=$i%2d wall=$wall%7.2fs rows=$rows%d " +
        f"task_time=$tt%8.1fs task_gc=$tg%6.1fs jvm_gc=${driverGc / 1e3}%6.1fs " +
        f"tasks=$k%5d occ=${tt / (wall * cpus)}%5.2f")
    }
    spark.stop()
  }
}
