package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.streaming.StreamPipelines
import graft.streaming.StreamPipelines.Generations

/** The drain helper every CDC fold in [[graft.streaming.StreamPipelines]]
  * runs through: batch ids are the commit sequence, the returned id names
  * the final generation, `_op` rows reach the fold, and a failing fold
  * leaves neither a checkpoint directory nor a changed session conf
  * behind; and the generation layout the folds keep their state in. The
  * source lint at the end keeps the drain scaffold and the layout in the
  * helpers.
  */
class StreamDrainSpec extends SparkSpec {
  import spark.implicits._

  private val Partitions = "spark.sql.shuffle.partitions"

  /** A graft-doc table with one commit per key group. */
  private def table(commits: Seq[Seq[Long]]): String = {
    val path = TempDirs.create("graft_drain_spec") + "/tbl"
    commits.foreach(ids =>
      graft.connector.GraftDoc.write(ids.toDF("k"), "k", path))
    path
  }

  /** Runs `body` with the session's shuffle partitions set to `n`. */
  private def withPartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get(Partitions)
    spark.conf.set(Partitions, n.toString)
    try body finally spark.conf.set(Partitions, prev)
  }

  test("a 3-commit table drains as batches 0, 1, 2 and the helper returns 2") {
    val path = table(Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L)))
    val seen = collection.mutable.Buffer[(Long, Seq[Long], String)]()
    val last = withPartitions(17) {
      StreamPipelines.drainBatches(spark, "drain_spec_order",
          StreamPipelines.cdcTail(spark, path)
            .select(col("_id").cast("long").as("k"))) { (batch, batchId) =>
        seen += ((batchId, batch.as[Long].collect().toSeq.sorted,
          spark.conf.get(Partitions)))
      }
    }
    assert(last == 2L)
    assert(seen.map(_._1) == Seq(0L, 1L, 2L))
    assert(seen.map(_._2) == Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L, 6L)))
    // the stateful-parallelism cap holds while the drain runs
    assert(seen.map(_._3).distinct == Seq("8"))
  }

  test("withOp delivers _op = delete rows for a tombstone commit") {
    val path = table(Seq(Seq(1L, 2L, 3L), Seq(4L)))
    graft.connector.GraftDoc.delete(spark, path, Seq(2L, 4L).toDF("k"))
    val seen = collection.mutable.Buffer[(Long, String, Long)]()
    val last = StreamPipelines.drainBatches(spark, "drain_spec_ops",
        StreamPipelines.cdcTail(spark, path, withOp = true)
          .select(col("_op"), col("_id").cast("long").as("k"))) {
      (batch, batchId) =>
        seen ++= batch.as[(String, Long)].collect().map {
          case (op, k) => (batchId, op, k) }
    }
    assert(last == 2L)
    assert(seen.sortBy(r => (r._1, r._3)) == Seq(
      (0L, "insert", 1L), (0L, "insert", 2L), (0L, "insert", 3L),
      (1L, "insert", 4L),
      (2L, "delete", 2L), (2L, "delete", 4L)))
  }

  test("a stream with no input folds nothing and returns -1") {
    val dir = Files.createTempDirectory("graft_drain_spec_empty").toString
    var calls = 0
    val last = StreamPipelines.drainBatches(spark, "drain_spec_empty",
        spark.readStream.schema("k long").parquet(dir)) { (_, _) =>
      calls += 1
    }
    assert(last == -1L)
    assert(calls == 0)
  }

  test("a failing fold propagates, leaves no checkpoint dir and restores the conf") {
    val name = "drain_spec_fail"
    val path = table(Seq(Seq(1L), Seq(2L)))
    val roots = Seq("/dev/shm", System.getProperty("java.io.tmpdir"))
      .map(Paths.get(_)).filter(Files.isDirectory(_))
    def leftovers(): Seq[String] = roots.flatMap { r =>
      val ls = Files.list(r)
      try ls.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path]
        .getFileName.toString).filter(_.startsWith(s"graft_ckpt_${name}_"))
      finally ls.close()
    }
    assert(leftovers().isEmpty)
    withPartitions(17) {
      val e = intercept[StreamingQueryException] {
        StreamPipelines.drainBatches(spark, name,
            StreamPipelines.cdcTail(spark, path)) { (_, batchId) =>
          if (batchId == 1L) throw new IllegalStateException("drain spec fold failure")
        }
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.getMessage == "drain spec fold failure"), e)
      assert(spark.conf.get(Partitions) == "17")
    }
    assert(leftovers().isEmpty)
  }

  private def longs(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  test("replaying batch v rewrites generation v+1 the same and leaves generation v untouched") {
    val g = Generations(spark, TempDirs.create("graft_gen_spec"), "x")
    g.seed("k long")
    g.step(0)(_.unionByName(Seq(1L).toDF("k")))
    g.step(1)(_.unionByName(Seq(2L).toDF("k")))
    assert(longs(g.after(1)) == Seq(1L, 2L))
    // at-least-once redelivery: batch 1 arrives again with the same id
    g.step(1)(_.unionByName(Seq(2L).toDF("k")))
    assert(longs(g.after(1)) == Seq(1L, 2L))
    assert(longs(g.read(1)) == Seq(1L))
    assert(longs(g.read(0)).isEmpty)
    g.tombstone(1, Seq(3L).toDF("k"))
    assert(longs(g.after(1)) == Seq(1L, 3L))
  }

  test("the final generation is the one after the last batch id") {
    val path = table(Seq(Seq(1L, 2L), Seq(3L), Seq(4L)))
    val g = Generations(spark, TempDirs.create("graft_gen_spec"), "x")
    val parts = Generations(spark, TempDirs.create("graft_gen_spec"), "p")
    g.seed("k long")
    val last = StreamPipelines.drainBatches(spark, "gen_spec_final",
        StreamPipelines.cdcTail(spark, path)
          .select(col("_id").cast("long").as("k"))) { (batch, v) =>
      g.step(v)(_.unionByName(batch))
      parts.write(v, batch)
    }
    assert(last == 2L)
    assert(g.out(last).endsWith("/x_v3"))
    assert(longs(g.after(last)) == Seq(1L, 2L, 3L, 4L))
    assert(longs(parts.parts) == Seq(1L, 2L, 3L, 4L))
    // no batch: the final generation is generation 0
    assert(g.out(-1L) == g.in(0))
  }

  test("an external generation 0 is read in place, and generation 1 lands under the temp dir") {
    val tmp = TempDirs.create("graft_gen_spec")
    val base = TempDirs.create("graft_gen_spec_base") + "/graph"
    Seq(7L, 8L).toDF("k").write.parquet(base)
    val g = Generations(spark, tmp, "g", base = Some(base))
    assert(g.in(0) == base)
    assert(longs(g.read(0)) == Seq(7L, 8L))
    g.step(0)(_.filter(col("k") =!= 8L))
    assert(g.out(0) == s"$tmp/g_v1")
    assert(longs(g.after(0)) == Seq(7L))
    assert(longs(spark.read.parquet(base)) == Seq(7L, 8L))
  }

  test("the drain scaffold appears in StreamPipelines only inside the drain helpers") {
    val src = new String(Files.readAllBytes(Paths.get(
      "src/main/scala/graft/streaming/StreamPipelines.scala")), "UTF-8")
    val v = DrainScaffoldLint.violations(src)
    assert(v.isEmpty, v.mkString("\n"))
    // the lint is not vacuous: every token still occurs, inside a helper
    val members = DrainScaffoldLint.members(src)
    for (t <- DrainScaffoldLint.Tokens)
      assert(members.exists { case (n, body) =>
        DrainScaffoldLint.Helpers(n) && body.contains(t) }, t)
    for (t <- DrainScaffoldLint.LayoutTokens)
      assert(members.exists { case (n, body) =>
        DrainScaffoldLint.LayoutHelpers(n) && t.findFirstIn(body).isDefined }, t)
  }

  test("the scaffold lint flags a hand-rolled drain and a generation counter") {
    val handRolled =
      """object P {
        |  private val nameCounter = new AtomicInteger(0)
        |  private def drain(df: DataFrame): Unit =
        |    df.writeStream.trigger(Trigger.AvailableNow()).start()
        |  def q8r(s: SparkSession): DataFrame = {
        |    val version = new AtomicInteger(0)
        |    val ckpt = ephemeralCheckpoint("mh_maint") // Trigger.AvailableNow
        |    stream.writeStream.foreachBatch { (b: DataFrame, id: Long) => () }
        |      .trigger(Trigger.AvailableNow())
        |  }
        |}""".stripMargin
    assert(DrainScaffoldLint.violations(handRolled).toSet == Set(
      "q8r: .foreachBatch", "q8r: Trigger.AvailableNow",
      "q8r: ephemeralCheckpoint(", "q8r: new AtomicInteger"))
  }

  test("the layout lint flags hand-rolled generation paths, seeds and _op splits") {
    val handRolled =
      """object P {
        |  def qc9(s: SparkSession): DataFrame = {
        |    s.range(0).select(col("id").as("vec_id")).write.parquet(s"$tmp/tomb_v0")
        |    drainBatches(s, "ivf_del", tail) { (batch, v) =>
        |      val del = batch.filter(col("_op") === "delete")
        |      s.read.parquet(s"$tmp/tomb_v$v").unionByName(del)
        |        .write.parquet(s"$tmp/tomb_v${v + 1}")
        |    }
        |  }
        |  def qc6(s: SparkSession): DataFrame = {
        |    drainBatches(s, "ivf_update", tail) { (batch, batchId) =>
        |      batch.filter(col("_op") === "insert").write.parquet(s"$tmp/assign_b${batchId}")
        |    }
        |  }
        |  def q8g(s: SparkSession): Unit =
        |    batch.write.parquet(s"$tmp/served_b$batchId")
        |}""".stripMargin
    assert(DrainScaffoldLint.violations(handRolled).toSet == Set(
      "qc9: s\\.range\\(0\\)", "qc9: _[vb]\\$", "qc9: === \"delete\"",
      "qc6: _[vb]\\$", "qc6: === \"insert\"", "q8g: _[vb]\\$"))
  }
}

/** Source lint for the drain scaffold of StreamPipelines: the sink
  * trigger, the foreachBatch sink and the tmpfs checkpoint are written
  * once, in the drain helpers, and no member keeps its own
  * `AtomicInteger` generation counter (the memory-sink name counter is
  * the one allowed). Likewise the generation layout is written once, in
  * `Generations` and `splitOps`: generation paths (`_v$`, `_v${`, `_b$`,
  * `_b${` interpolations), empty `s.range(0)` seeds and the `_op`
  * comparisons. Heuristic by design: comments are blanked, and a member
  * runs from one two-space-indented declaration to the next.
  */
object DrainScaffoldLint {
  val Tokens = Seq(".foreachBatch", "Trigger.AvailableNow", "ephemeralCheckpoint(")
  val Helpers = Set("ephemeralCheckpoint", "withEphemeralCheckpoint", "drain",
    "drainBatches")
  val LayoutTokens = Seq("_[vb]\\$", "s\\.range\\(0\\)", "=== \"insert\"",
    "=== \"delete\"").map(_.r)
  val LayoutHelpers = Set("Generations", "splitOps")

  private val Member = ("(?m)^  (?:private(?:\\[\\w+\\])? )?" +
    "(?:def|val|lazy val|var|(?:final )?(?:case )?class|object) (\\w+)").r

  /** (member name, member source) for each member, comments blanked. */
  def members(src: String): Seq[(String, String)] = {
    val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    val starts = Member.findAllMatchIn(code).toSeq
    starts.zipWithIndex.map { case (m, i) =>
      val end = if (i + 1 < starts.size) starts(i + 1).start else code.length
      (m.group(1), code.substring(m.start, end))
    }
  }

  def violations(src: String): Seq[String] =
    members(src).flatMap { case (name, body) =>
      Tokens.filter(t => !Helpers(name) && body.contains(t))
        .map(t => s"$name: $t") ++
        LayoutTokens.filter(t => !LayoutHelpers(name) && t.findFirstIn(body).isDefined)
          .map(t => s"$name: $t") ++
        (if (name != "nameCounter" && body.contains("new AtomicInteger"))
          Seq(s"$name: new AtomicInteger") else Nil)
    }
}
