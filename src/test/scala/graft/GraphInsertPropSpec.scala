package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.NnDescent
import graft.queries.SimilarityQueries

/** qb3's incremental insert replayed against a FULL REBUILD on random
  * clustered corpora (the IncrementalMinhashPropSpec discipline): the
  * merged graph's delta-node recall must track the rebuild's, and the
  * base side must change only by GAINING new-node edges — the
  * invariants that make "insert without rebuild" a safe production
  * default rather than a quality cliff. */
class GraphInsertPropSpec extends SparkSpec {

  private val Dim = 12

  /** Clustered corpus: 8 Gaussian centers + noise, so near neighbors are
    * real structure (structure-free vectors make every graph look the
    * same and prove nothing about seeding/refinement). */
  private def corpus(seed: Long, n: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(8)(Array.fill(Dim)(rnd.nextGaussian().toFloat))
    (0 until n).map { i =>
      val c = centers(rnd.nextInt(8))
      (i.toLong, c.map(x => x + 0.3f * rnd.nextGaussian().toFloat))
    }
  }

  private def topServed(g: DataFrame, nBase: Long): Set[(Long, Long)] = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("nid"))
    g.filter(col("vec_id") >= nBase)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= NnDescent.ReportK)
      .select(col("vec_id"), col("nid"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Brute-force top-k of the delta probes, the ids >= `minId`: the
    * recall denominator. */
  private def exactTopKFrom(e: DataFrame, k: Int, minId: Long): DataFrame =
    SimilarityQueries.exactTopKOf(e, k, e.filter(col("vec_id") >= minId).select("vec_id"))

  test("insert tracks rebuild recall; base lists change only by gaining new-node edges") {
    val session = spark
    import session.implicits._
    for (seed <- Seq(11L, 23L)) {
      val n = 192
      val e = corpus(seed, n).toDF("vec_id", "embedding").cache()
      val nBase = (n - n / 16).toLong
      val g0 = e.filter(col("vec_id") < nBase)
        .transform(NnDescent.knnGraph).cache()
      val merged = NnDescent.insertDelta(e, g0, nBase).cache()
      val rebuilt = NnDescent.knnGraph(e)

      // recall@5 on the delta probes vs brute-force truth
      val exact = exactTopKFrom(e, NnDescent.ReportK, nBase)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rIns = topServed(merged, nBase).count(exact) * 1.0 / exact.size
      val rReb = topServed(rebuilt, nBase).count(exact) * 1.0 / exact.size
      assert(rIns >= rReb - 0.2,
        s"seed=$seed insert recall $rIns fell behind rebuild $rReb")
      assert(rIns >= 0.5, s"seed=$seed insert recall degenerate: $rIns")

      // list invariants on the new nodes
      val deltaLists = merged.filter(col("vec_id") >= nBase)
      assert(deltaLists.filter(col("nid") === col("vec_id")).isEmpty,
        "self edge in a new node's list")
      val sizes = deltaLists.groupBy("vec_id").count()
        .select("count").as[Long].collect()
      assert(sizes.nonEmpty && sizes.forall(s =>
        s >= NnDescent.ReportK && s <= NnDescent.K), sizes.toSeq.toString)

      // the base side may only GAIN new-node edges: any merged-base row
      // absent from g0 must point at a new node (untouched lists are
      // byte-identical by the semi/anti split)
      val gained = merged.filter(col("vec_id") < nBase)
        .select("vec_id", "nid").except(g0.select("vec_id", "nid"))
      assert(gained.filter(col("nid") < nBase).isEmpty,
        "a base list changed without a new-node edge")

      merged.unpersist(); g0.unpersist(); e.unpersist()
    }
  }
}
