package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.StableIds

/** StableIds' contract: the assignment equals the total-sort rank no
  * matter where the sampled range boundaries land — so the SAME data must
  * get the SAME ids under any partition count. */
class StableIdsSpec extends SparkSpec {

  // descends into adaptive plans and their query stages
  private object Plans extends AdaptiveSparkPlanHelper

  test("ids are identical across partition counts (boundary independence)") {
    import spark.implicits._
    val df = (1 to 5000)
      .map(i => (i.toLong, (i * 2654435761L) % 1000)) // non-unique sort value
      .toDF("k", "v")
    def ids(parts: Int) = StableIds
      .assign(df, Seq(col("v"), col("k")), parts) // k breaks ties: total order
      .select(col("k"), col("stable_id"))
      .as[(Long, Long)].collect().toMap
    val a = ids(3)
    val b = ids(16)
    assert(a == b, "partition count changed the assignment")
    // and the ids are exactly 1..N in sort order
    assert(a.values.toSeq.sorted == (1L to 5000L))
  }

  test("runningTotal equals the single-node global-window prefix sum, any partitioning") {
    import spark.implicits._
    val df = (1 to 3000)
      .map(i => (i.toLong, (i * 2654435761L) % 97)) // value 0..96, dup sort keys
      .toDF("k", "v")
    // reference: exclusive prefix sum over the total order (k)
    val expected = {
      var acc = 0L
      (1 to 3000).map { i =>
        val before = acc; acc += (i * 2654435761L) % 97; (i.toLong, before)
      }.toMap
    }
    for (parts <- Seq(2, 16)) {
      val got = StableIds
        .runningTotal(df, Seq(col("k")), col("v"), parts, outCol = "before")
        .select(col("k"), col("before"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"runningTotal diverged at $parts partitions")
    }
  }

  test("runningMax equals the single-node global-window running max, any partitioning") {
    import spark.implicits._
    // out-of-order values with long flat stretches (max not strictly
    // increasing) — the shape that exposes a wrong prefix combine
    val vals = (1 to 3000).map(i => ((i * 48271L) % 500) - 250)
    val df = vals.zipWithIndex
      .map { case (v, i) => ((i + 1).toLong, v) }.toDF("k", "v")
    val expected = {
      var acc = Long.MinValue
      vals.zipWithIndex.map { case (v, i) =>
        acc = math.max(acc, v); ((i + 1).toLong, acc)
      }.toMap
    }
    for (parts <- Seq(2, 16)) {
      val got = StableIds
        .runningMax(df, Seq(col("k")), col("v"), parts, outCol = "rm")
        .select(col("k"), col("rm"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"runningMax diverged at $parts partitions")
    }
  }

  // (k, v) rows, v nullable: the three operators against driver-side
  // references over the total order k — exclusive prefix sum and
  // inclusive running max skip nulls, the running max is Long.MinValue
  // before the first non-null value
  private def frame(vs: Seq[Option[Long]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        vs.zipWithIndex.map { case (v, i) => Row((i + 1).toLong, v.orNull) }, 3),
      StructType(Seq(StructField("k", LongType, nullable = false),
        StructField("v", LongType, nullable = true))))

  private def checkAll(vs: Seq[Option[Long]], parts: Int): Unit = {
    import spark.implicits._
    val df = frame(vs)
    val ids = StableIds.assign(df, Seq(col("k")), parts)
      .select(col("k"), col("stable_id")).as[(Long, Long)].collect().toMap
    assert(ids == vs.indices.map(i => (i + 1L, i + 1L)).toMap,
      s"assign diverged at $parts partitions")
    val before = StableIds
      .runningTotal(df, Seq(col("k")), col("v"), parts, outCol = "b")
      .select(col("k"), col("b")).as[(Long, Long)].collect().toMap
    val wantBefore = vs.indices.map(i =>
      (i + 1L, vs.take(i).flatten.sum)).toMap
    assert(before == wantBefore, s"runningTotal diverged at $parts partitions")
    val rm = StableIds
      .runningMax(df, Seq(col("k")), col("v"), parts, outCol = "m")
      .select(col("k"), col("m")).as[(Long, Long)].collect().toMap
    val wantMax = vs.indices.map(i =>
      (i + 1L, (Long.MinValue +: vs.take(i + 1).flatten).max)).toMap
    assert(rm == wantMax, s"runningMax diverged at $parts partitions")
  }

  test("empty input: every operator returns no rows") {
    checkAll(Seq.empty, 8)
    val out = StableIds.assign(frame(Seq.empty), Seq(col("k")), 8)
    assert(out.columns.toSeq == Seq("k", "v", "stable_id"))
  }

  test("more partitions than rows: empty partitions shift no offset") {
    checkAll(Seq(Some(5L), None, Some(-3L), Some(7L), Some(2L)), 16)
    checkAll(Seq(Some(1L)), 4)
  }

  test("an all-null partition adds nothing, and a leading one keeps the running max at Long.MinValue") {
    // nulls over the first half: with 4 range partitions over k the
    // first partition (k below the first sampled bound, near n/4) is
    // all null, and the reference's running max there is Long.MinValue;
    // a second all-null stretch sits mid-order
    val n = 400
    checkAll((1 to n).map { k =>
      if (k <= n / 2 || (k > 3 * n / 4 && k <= 7 * n / 8)) None
      else Some(((k * 48271L) % 101) - 50)
    }, 4)
  }

  test("offsets over a range exchange that AQE coalesced") {
    // StableIds' own range exchange has an explicit partition count,
    // which AQE never coalesces; this builds the same pinned shape over
    // a column-only range exchange (AQE may coalesce it) and checks the
    // offsets against the coalesced partitions' actual counts
    import spark.implicits._
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set(keys(0), "32")
      conf.set(keys(1), "false")
      conf.set(keys(2), "16k")
      conf.set(keys(3), "1k")
      val ranged = frame((1 to 20000).map(i => Some(i % 97L)))
        .repartitionByRange(col("k")).sortWithinPartitions(col("k"))
        .withColumn("_sid_pid", spark_partition_id())
        .localCheckpoint()
      val parts = ranged.rdd.getNumPartitions
      assert(parts > 1 && parts < 32, s"range exchange not coalesced: $parts")
      val offs = StableIds
        .withOffsets(ranged, lit(1L), 0L, Math.addExact(_: Long, _: Long))
        .groupBy(col("_sid_pid"))
        .agg(min(col("k")).as("lo"), max(col("k")).as("hi"),
          count(lit(1)).as("n"), min(col("_sid_off")).as("off"),
          max(col("_sid_off")).as("off2"))
        .orderBy(col("_sid_pid"))
        .as[(Int, Long, Long, Long, Long, Long)].collect()
      assert(offs.map(_._1).toSeq == (0 until parts))
      offs.foreach { case (pid, lo, _, _, off, off2) =>
        assert(off == off2 && off == lo - 1, s"partition $pid: offset $off")
      }
      assert(offs.map(_._4).sum == 20000L)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("offsets cost one job, and no operator plans a join (no nested loop, no offsets join)") {
    val sc = spark.sparkContext
    val df = frame((1 to 2000).map(i => Some(i % 13L)))
    val keys = Seq(col("v"), col("k"))
    def jobsOf(f: => Any): Int = {
      val jobs = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.ListenerBusDrain(sc)
      sc.addSparkListener(listener)
      try { f; org.apache.spark.ListenerBusDrain(sc) }
      finally sc.removeSparkListener(listener)
      jobs.get()
    }
    val pinJobs = jobsOf(StableIds.pinned(df, keys, 8))
    val assignJobs = jobsOf(StableIds.assign(df, keys, 8))
    assert(assignJobs - pinJobs == 1,
      s"assign ran $assignJobs jobs, its pinned range frame $pinJobs")
    val runs = Seq(
      StableIds.assign(df, keys, 8),
      StableIds.runningTotal(df, keys, col("v"), 8),
      StableIds.runningMax(df, keys, col("v"), 8))
    runs.foreach { out =>
      out.collect()
      val joins = Plans.collectWithSubqueries(out.queryExecution.executedPlan) {
        case j: BaseJoinExec => j
      }
      assert(joins.isEmpty, s"join in the operator's plan: ${joins.mkString("; ")}")
    }
  }
}
