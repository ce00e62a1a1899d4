package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are wall-clock milliseconds, the clock every
  * Spark listener event carries. `parent` 0 = root. */
final case class Span(id: Long, parent: Long, name: String, start: Double, end: Double,
    attrs: Map[String, Any] = Map.empty) {
  def ms: Double = end - start
}

/** Per-job counters folded from task and stage events. */
final class JobAcc(val jobId: Int, val start: Double, val props: java.util.Properties) {
  var end = 0.0
  var stages = 0
  var tasks = 0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var spill = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  def prop(k: String): Option[String] = Option(props).flatMap(p => Option(p.getProperty(k)))
}

/** The traced-run recorder: op spans opened by the benchmark itself, plus
  * job, planning and micro-batch spans reconstructed from the three
  * listener kinds. Everything stays in memory; [[toJson]] writes it once.
  *
  * Parent links: the benchmark sets `perfbench.span` on its own thread
  * before each call, so every job that call submits carries its op span
  * id. Streaming jobs run on the query's thread instead and carry
  * Spark's batch-id local property; they hang under the micro-batch span
  * of that batch. Planning phases carry no thread identity and are
  * attached to the op span whose interval contains them. */
final class Trace(spark: SparkSession) {
  val traceId: String = java.util.UUID.randomUUID().toString
  private val ids = new AtomicLong(0)
  private val sc = spark.sparkContext
  val ops = new ConcurrentLinkedQueue[Span]()
  val batches = new ConcurrentLinkedQueue[Span]()
  val planning = new ConcurrentLinkedQueue[Span]()
  private val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = new JobAcc(e.jobId, e.time.toDouble, e.properties)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.recordsRead += m.inputMetrics.recordsRead
        j.bytesRead += m.inputMetrics.bytesRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) {
        val s = ph.values.map(_.startTimeMs).min.toDouble
        val e = ph.values.map(_.endTimeMs).max.toDouble
        planning.add(Span(ids.incrementAndGet(), 0, s"plan:$funcName", s, e,
          ph.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }.toMap))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batches.add(Span(ids.incrementAndGet(), 0, "micro-batch", start,
        start + d.getOrElse("triggerExecution", 0.0),
        d ++ Map("batchId" -> p.batchId, "queryId" -> p.id.toString,
          "rows" -> p.numInputRows)))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Open an op span around `f`: jobs it submits from this thread become
    * its children. */
  def op[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setJobDescription(name)
    val w0 = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try f
    finally {
      ops.add(Span(id, 0, name, w0, w0 + (System.nanoTime() - t0) / 1e6))
      sc.setLocalProperty("perfbench.span", null)
      sc.setJobDescription(null)
    }
  }

  private def jobList: Seq[JobAcc] = synchronized(jobs.values.toList)

  /** Jobs whose parent is `span` (an op span by id, or a micro-batch span
    * by its query id + batch id). */
  def childJobs(span: Span): Seq[JobAcc] =
    if (span.name == "micro-batch") {
      val b = span.attrs("batchId").toString
      val q = span.attrs("queryId").toString
      jobList.filter(j => j.prop("streaming.sql.batchId").contains(b) &&
        j.prop("sql.streaming.queryId").contains(q))
    } else jobList.filter(j => j.prop("perfbench.span").contains(span.id.toString) &&
      j.prop("streaming.sql.batchId").isEmpty)

  /** Wall covered by the union of the children's intervals, clipped to the span. */
  def covered(span: Span, js: Seq[JobAcc]): Double = {
    val iv = js.map(j => (math.max(j.start, span.start), math.min(j.end, span.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** Planning-phase milliseconds that fall inside the span. */
  def planningMs(span: Span): Double =
    planning.asScala.filter(p => p.start >= span.start && p.start <= span.end)
      .map(_.attrs.values.map(_.asInstanceOf[Double]).sum).sum

  /** Layer breakdown of one parent span. */
  def breakdown(span: Span): Map[String, Double] = {
    val js = childJobs(span)
    val inJob = covered(span, js)
    Map(
      "wall_ms" -> span.ms,
      "jobs" -> js.size.toDouble,
      "stages" -> js.map(_.stages).sum.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble,
      "in_job_ms" -> inJob,
      "between_jobs_ms" -> (span.ms - inJob),
      "executor_cpu_ms" -> js.map(_.cpuMs).sum,
      "gc_ms" -> js.map(_.gcMs).sum,
      "shuffle_write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "spill_bytes" -> js.map(_.spill).sum.toDouble,
      "records_read" -> js.map(_.recordsRead).sum.toDouble,
      "bytes_read" -> js.map(_.bytesRead).sum.toDouble,
      "planning_ms" -> planningMs(span))
  }

  def opsNamed(prefix: String): Seq[Span] =
    ops.asScala.toSeq.filter(_.name.startsWith(prefix)).sortBy(_.start)

  /** The span artifact: ops, micro-batches, planning phases and jobs, each
    * with its parent link. */
  def toJson: java.util.Map[String, Any] = {
    val opIds = ops.asScala.map(s => s.id.toString -> s.id).toMap
    val batchIds = batches.asScala.map(b =>
      (b.attrs("queryId").toString, b.attrs("batchId").toString) -> b.id).toMap
    def spanJson(s: Span, parent: Long): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("trace", traceId); m.put("id", s.id); m.put("parent", parent)
      m.put("name", s.name); m.put("start_ms", s.start); m.put("end_ms", s.end)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      m
    }
    def containing(t: Double): Long =
      ops.asScala.find(o => t >= o.start && t <= o.end).map(_.id).getOrElse(0L)
    val jobSpans = jobList.map { j =>
      // a query thread inherits the starter's local properties, so a
      // streaming job's batch id decides before any op span id
      val parent = (for (q <- j.prop("sql.streaming.queryId"); b <- j.prop("streaming.sql.batchId");
          id <- batchIds.get((q, b))) yield id)
        .orElse(j.prop("perfbench.span").flatMap(opIds.get)).getOrElse(0L)
      spanJson(Span(ids.incrementAndGet(), parent, s"job:${j.jobId}", j.start, j.end,
        Map("stages" -> j.stages, "tasks" -> j.tasks, "executor_cpu_ms" -> j.cpuMs,
          "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWrite,
          "spill_bytes" -> j.spill)), parent)
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("trace", traceId)
    out.put("spans", (ops.asScala.map(s => spanJson(s, 0)) ++
      batches.asScala.map(s => spanJson(s, 0)) ++
      planning.asScala.map(s => spanJson(s, containing(s.start))) ++ jobSpans)
      .toList.asJava)
    out
  }
}
