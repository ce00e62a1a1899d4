package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `fold_suite`: the driver-bound iterative generation folds, each run
  * through `SparkEntry.queries` over a seeded `documents` table. The first
  * pass is the warm-up (set-up) and its output is dumped the way Verify
  * lays it out, for the DuckDB oracle check that follows the run. */
final class FoldSuite(ctx: Ctx) extends Workload {
  import FoldSuite._
  private val spark = ctx.spark
  private val dataDir = ctx.dir("fold_suite/data")
  private val walls = Queries.map(q => q -> ArrayBuffer.empty[Double]).toMap
  private var attempts = 0

  override def setup(windows: Int): Double = {
    val gens = (0 until SetupBuilds).map { _ =>
      val t0 = System.nanoTime()
      writeDocuments(spark, ctx.seed, dataDir, ctx.work)
      (System.nanoTime() - t0) / 1e9
    }
    ctx.log(s"documents written: ${gens.map(b => f"$b%.2f").mkString(" ")} s")
    val t0 = System.nanoTime()
    val dump = ctx.dir("fold_suite/verify")
    Queries.foreach { q =>
      graft.SparkEntry.queries(q)(spark, dataDir).coalesce(1).write
        .mode("overwrite").parquet(s"$dump/$q")
    }
    val oracle = graft.SparkEntry.oracleSqlFor(dataDir).filter(kv => Queries.contains(kv._1))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"),
      mapper.writeValueAsString(scala.jdk.CollectionConverters.MapHasAsJava(oracle).asJava))
    (System.nanoTime() - t0) / 1e9 + Stats.median(gens)
  }

  private def pass(q: String): Unit =
    graft.SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()

  override def measure(window: Int): Map[String, Double] = {
    walls.values.foreach(_.clear())
    // a fixed pass count per window, so every run weighs the same work
    val passes = math.max(MinPasses, math.round(ctx.seconds / SecondsPerPass).toInt)
    (1 to passes).foreach { _ =>
      Queries.foreach { q =>
        val (_, ms) = ctx.timed(q)(pass(q))
        walls(q) += ms
        attempts += 1
      }
    }
    val suiteS = Queries.map(q => Stats.median(walls(q).toSeq)).sum / 1000.0
    val positions = spark.read.parquet(s"$dataDir/documents.parquet")
      .agg(sum(length(col("text")))).head().getLong(0)
    Map("op_p50_ms" -> suiteS * 1000.0,
      "op_mean_ms" -> Queries.map(q => walls(q).sum / walls(q).size).sum,
      "rows_per_s" -> positions / suiteS,
      "fold_suite_s" -> suiteS)
  }

  override def layers(t: Trace, window: Int): Map[String, Double] =
    Queries.flatMap { q =>
      val tag = q.takeWhile(_ != '_')
      val bs = t.opsNamed(q).map(t.breakdown)
      def med(k: String) = Stats.median(bs.map(_(k)))
      Seq(
        s"fold.$tag.wall_s" -> med("wall_ms") / 1000, s"fold.$tag.jobs" -> med("jobs"),
        s"fold.$tag.stages" -> med("stages"), s"fold.$tag.tasks" -> med("tasks"),
        s"fold.$tag.between_jobs_s" -> med("between_jobs_ms") / 1000,
        s"fold.$tag.in_job_s" -> med("in_job_ms") / 1000,
        s"fold.$tag.executor_cpu_s" -> med("executor_cpu_ms") / 1000,
        s"fold.$tag.gc_s" -> med("gc_ms") / 1000,
        s"fold.$tag.shuffle_write_bytes" -> med("shuffle_write_bytes"),
        s"fold.$tag.spill_bytes" -> med("spill_bytes"),
        s"fold.$tag.planning_ms" -> med("planning_ms"))
    }.toMap

  /** The oracle comparison runs after the JVM exits (DuckDB, in the
    * caller); here only the seed-reproducibility self-test. */
  override def check(): Seq[String] = {
    val again = ctx.dir("fold_suite/again")
    writeDocuments(spark, ctx.seed, again, ctx.work)
    val a = Files.readAllBytes(Paths.get(s"$dataDir/documents.parquet"))
    val b = Files.readAllBytes(Paths.get(s"$again/documents.parquet"))
    if (java.util.Arrays.equals(a, b)) Nil
    else Seq("documents table is not byte-identical for the same seed")
  }

  override def attempted: Int = attempts
  override def failed: Int = 0
  override def notes: Map[String, Any] =
    walls.map { case (q, ms) => s"$q.passes_ms" -> ms.mkString(" ") }
}

object FoldSuite {
  /** qb5 and qc8 are left out: they materialise under a fixed /tmp path
    * (QueryDef.materializePath), outside the benchmark's own tree. */
  val Queries = Seq("qau_suffix_ranks")
  val Docs = 250
  val MinPasses = 2
  val SecondsPerPass = 6.0 // one qau pass on 4 cores
  val SetupBuilds = 3

  private val Words = ("the fast key order sort table scan merge part window small hash " +
    "join batch stream spark dup group query row data slow filter customer line value " +
    "agg column vector big a").split(" ")

  /** A seeded `documents` table in the test-data schema, written as one
    * parquet file (the layout DuckDB and Tables.load both read). */
  def writeDocuments(spark: SparkSession, seed: Long, dir: String, work: String): Unit = {
    val rng = new java.util.Random(seed * 7919L + 3)
    val langs = Seq("en", "en", "en", "fr", "es", "zh", "de")
    val rows = (0 until Docs).map { i =>
      val n = 8 + (i * 37) % 85 // the same lengths for every seed
      val text = Seq.fill(n)(Words(rng.nextInt(Words.length))).mkString(" ")
      (i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    val df: DataFrame = spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tmp = s"$work/fold_suite/tmp_${System.nanoTime()}"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(s"$dir/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }
}
