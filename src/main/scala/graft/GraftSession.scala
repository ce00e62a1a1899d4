package graft

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference (see SURVEY.md §0) delegates all execution to its host
  * platform; our engine delegates to Spark/Catalyst/Tungsten and tunes the
  * knobs that matter at 100 TB:
  *   - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  *     and join-strategy re-planning replace any hand-scheduling.
  *   - shuffle.partitions sized to the local core count for tests; on a real
  *     cluster this is set per-job (or left to AQE's coalescing with a high
  *     initial partition number).
  *   - UTC session TZ pinned so timestamp semantics match the DuckDB oracle.
  *   - `file:` on [[ForklessLocalFileSystem]] / [[ForklessLocalFs]]: without
  *     the native Hadoop library, the stock local FS launches a `chmod` in
  *     every create and a `readlink` + `ls -ld` in every link-status call,
  *     so each checkpoint WAL entry, commit-log entry, graft-doc commit and
  *     part file paid tens of milliseconds of process launches. Checksums,
  *     rename and create semantics are the stock ones. `FileSystem.CACHE`
  *     keys on scheme, not class: a `file:` FS built from a Configuration
  *     without these keys before the session exists keeps being served.
  *     A session that already existed keeps its own Hadoop conf whatever
  *     the builder says; [[local]] then logs a WARN naming the two keys.
  */
object GraftSession {

  /** The keys that serve `file:` from the fork-free classes. */
  private val ForklessConf = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs].getName)

  /** Apply engine defaults to a builder (caller controls master/memory). */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    ForklessConf.foldLeft(b) { case (acc, (k, v)) => acc.config(k, v) }
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.parquet carries TIMESTAMP(NANOS) which Spark rejects by
    // default; read as long nanos and normalize in Tables.load.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
    // one-shot AvailableNow drains don't benefit from aggressive state-store
    // housekeeping; long maintenance pauses showed up as multi-10s outliers
    .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    .config("spark.sql.streaming.minBatchesToRetain", "2")
    .config("spark.sql.ui.explainMode", "formatted")
    .config("spark.ui.enabled", "false")

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", cores.toString)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    forklessWarning(s.sparkContext.hadoopConfiguration)
      .foreach(org.slf4j.LoggerFactory.getLogger("graft.GraftSession").warn(_))
    s
  }

  /** The warning to log when `conf` does not serve `file:` with
    * [[ForklessLocalFileSystem]]: the session existed before
    * [[configure]] ran (`spark-shell`, or an earlier `getOrCreate`), so
    * its Hadoop conf dropped the `spark.hadoop.*` keys. */
  def forklessWarning(conf: Configuration): Option[String] = {
    val fs = classOf[ForklessLocalFileSystem].getName
    val impl = conf.get("fs.file.impl")
    if (impl == fs) None
    else Some(s"graft: file: is served by ${Option(impl).getOrElse("Hadoop's default")}, " +
      s"not $fs: this session existed before GraftSession configured it, so local " +
      "creates launch chmod processes again. Start it with " +
      ForklessConf.map { case (k, v) => s"--conf $k=$v" }.mkString(" "))
  }
}
