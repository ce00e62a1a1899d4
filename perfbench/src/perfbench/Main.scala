package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark process. `trace` is set only while the
  * traced window of a `--trace 1` run is measuring. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val work: String, t0: Long) {
  @volatile var trace: Option[Trace] = None

  /** Progress line on stderr, stamped with seconds since JVM start-up. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  /** Time `f` in milliseconds; under a trace it is also an op span. */
  def timed[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace.fold(f)(_.op(name)(f))
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dir(name: String): String = {
    val d = Paths.get(work, name)
    Files.createDirectories(d)
    d.toString
  }
}

/** A workload: set up once, measure one or more windows, check outputs. */
trait Workload {
  /** Session-independent set-up: data, tables, warm-up. Returns the
    * seconds to report as set-up beyond session start (see README). */
  def setup(windows: Int): Double
  /** One measured window; returns its figures: the end-to-end metrics and
    * the workload's own named figures. */
  def measure(window: Int): Map[String, Double]
  /** Per-layer figures of the traced window, from its spans (called after
    * the listeners are detached and drained). */
  def layers(t: Trace, window: Int): Map[String, Double]
  /** Correctness checks outside the timed region: failure messages. */
  def check(): Seq[String]
  /** Operations attempted and failed in the measured windows. */
  def attempted: Int
  def failed: Int
  /** Extra facts for the run artifact. */
  def notes: Map[String, Any] = Map.empty
}

object Main {

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val out = arg(args, "--out")
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.numRecentProgressUpdates", "100000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, seed, seconds, work, t0)
    import ctx.log
    val w: Workload = workload match {
      case "wire_ingest" => new WireIngest(ctx)
      case "doc_store" => new DocStore(ctx)
      case "fold_suite" => new FoldSuite(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // a traced run measures three windows: the untraced one every run
    // measures, an untraced one as warm as the third, and the traced one
    val windows = if (traced) 3 else 1
    log(f"session up ($sessionS%.2f s)")
    val setupS = sessionS + w.setup(windows)
    log("set-up done")
    val e2e = w.measure(0)
    log(f"measured: op_p50_ms ${e2e("op_p50_ms")}%.1f op_mean_ms ${e2e("op_mean_ms")}%.1f")
    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val base = w.measure(1)
        log(f"untraced window: op_p50_ms ${base("op_p50_ms")}%.1f")
        val t = new Trace(spark)
        t.attach()
        ctx.trace = Some(t)
        val tracedE2e = try w.measure(2) finally { ctx.trace = None; t.detach() }
        log(f"traced window: op_p50_ms ${tracedE2e("op_p50_ms")}%.1f")
        val l = w.layers(t, 2)
        Files.writeString(Paths.get(s"$out.spans.json"),
          new ObjectMapper().writeValueAsString(t.toJson))
        val overhead = 100.0 * (tracedE2e("op_p50_ms") - base("op_p50_ms")) / base("op_p50_ms")
        // the plan's named figures (no dot in the name) are end-to-end
        // numbers, so they come from the first untraced window; a layer's
        // counters (`layer.name`) describe the traced window, as its spans do
        e2e.filter(!_._1.contains('.')) ++ tracedE2e.filter(_._1.contains('.')) ++ l ++
          Map(s"$workload.trace_overhead_pct" -> overhead)
      }
    val problems = w.check()
    log("checked")
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED: $p"))
    val rssMb = peakRssMb()

    val metrics = new java.util.LinkedHashMap[String, Any]()
    metrics.put("setup_s", setupS)
    Seq("op_p50_ms", "op_mean_ms", "rows_per_s").foreach(k => metrics.put(k, e2e(k)))
    val result = new java.util.LinkedHashMap[String, Any]()
    result.put("workload", workload)
    result.put("seed", seed)
    result.put("seconds", seconds)
    result.put("trace", traced)
    result.put("attempted", w.attempted)
    result.put("failed", w.failed + problems.size)
    result.put("problems", problems.asJava)
    result.put("end_to_end", metrics)
    result.put("named", e2e.asJava)
    result.put("per_layer", (layers + ("peak_rss_mb" -> rssMb)).asJava)
    result.put("notes", w.notes.asJava)
    result.put("machine", Machine.stamp(spark, cpus))
    Files.writeString(Paths.get(out), new ObjectMapper().writeValueAsString(result))
    log("stamped")
    spark.stop()
  }

  /** High-water resident set of this JVM, from the kernel. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)
}

/** Machine state stamped on every artifact. The speed sentinels are
  * recorded only: nothing reads them back to widen a bound. */
object Machine {
  def stamp(spark: SparkSession, cpus: Int): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("nproc", cpus)
    m.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    m.put("spark_version", spark.version)
    m.put("jvm_version", System.getProperty("java.vm.version"))
    m.put("os", s"${System.getProperty("os.name")} ${System.getProperty("os.version")}")
    m.put("sentinel_single_thread_ms", singleThreadMs())
    m.put("sentinel_local_nproc_ms", parallelMs(spark, cpus))
    m
  }

  /** Fixed integer-mixing loop on one thread: best of 2. */
  def singleThreadMs(): Double = (1 to 2).map { _ =>
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { h = (h ^ i) * 0xBF58476D1CE4E5B9L; h ^= h >>> 31; i += 1 }
    if (h == 42) println("")
    (System.nanoTime() - t0) / 1e6
  }.min

  /** The same kind of fixed work as one Spark job over all cores: best of 2. */
  def parallelMs(spark: SparkSession, cpus: Int): Double = (1 to 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 40000000L, 1L, cpus).selectExpr("sum(xxhash64(id) >> 32)").collect()
    (System.nanoTime() - t0) / 1e6
  }.min
}
