package graft.tools

import graft.GraftSession
import graft.queries.SimilarityQueries
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Stage-level instrumentation for q5m_ann_index_update — the round-8
  * verdict flagged its bench timing as bimodal (1.15s best vs 4.40s
  * committed) and asked for a root cause, not a re-baseline. This probe
  * times each phase of the query (centroid build+persist, base-assign
  * persist, delta-assign persist, serve) and counts Spark jobs per
  * phase, across passes — so cold-start (codegen/JIT on pass 1) is
  * separable from steady-state, and the dominant phase is measurable
  * instead of guessed. */
object Q5mProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark: SparkSession = GraftSession.local(32)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    e.count()
    val p = graft.queries.QueryDef.materializePath(sfDir, "q5m_probe")
    def timed(label: String, pass: Int)(f: => Unit): Unit = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      f
      println(f"[q5m] pass$pass $label%-14s ${(System.nanoTime() - t0) / 1e9}%6.2fs jobs=${jobs.get() - j0}")
    }
    (1 to passes).foreach { pass =>
      val existing = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
      val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
      timed("build_cent", pass) {
        SimilarityQueries.centroids(e).write.mode("overwrite").parquet(s"$p/cent")
      }
      val ic = spark.read.parquet(s"$p/cent")
      timed("assign_base", pass) {
        existing.crossJoin(broadcast(ic))
          .withColumn("cc", round(graft.functions.VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"))
          .write.mode("overwrite").parquet(s"$p/assign_base")
      }
      timed("assign_delta", pass) {
        delta.crossJoin(broadcast(ic))
          .withColumn("cc", round(graft.functions.VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"))
          .write.mode("overwrite").parquet(s"$p/assign_delta")
      }
      timed("serve", pass) {
        val ia = spark.read.parquet(s"$p/assign_base")
          .unionByName(spark.read.parquet(s"$p/assign_delta"))
        SimilarityQueries.ivfServe(e, ic, ia).count()
      }
      timed("full_query", pass) {
        graft.SparkEntry.queries("q5m_ann_index_update")(spark, sfDir).count()
      }
    }
    spark.stop()
  }
}
