package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{functions, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.connector.{GraftDoc, GraftDocLog}

/** `doc_store`: one closed-loop client running a seeded op mix against a
  * `graft-doc` table of orders-shaped documents. Each round: one upsert
  * followed by `maintain`, one delete, a batch of point lookups (some on
  * absent keys), and one full-snapshot aggregate. The client keeps the
  * exact key -> (version, price) model and checks every answer against it.
  */
final class DocStore(ctx: Ctx) extends Workload {
  import DocStore._
  private val spark = ctx.spark
  private var rng: java.util.Random = _
  private var path = ""

  // client model, indexed by order key; ver < 0 = absent
  private val ver = new Array[Int](MaxKey + 1)
  private var nextNew = 0L
  private var round = 0
  private var rounds = 0 // per window
  private var windowsDone = 0

  private val upsertMs, deleteMs, lookupMs, scanMs, compactMs =
    ArrayBuffer.empty[Double]
  private val liveCommits = ArrayBuffer.empty[Double]
  private val opLog = java.security.MessageDigest.getInstance("SHA-256")
  private var upsertBytes = 0L
  private var upsertDocs = 0L
  private var rowsTouched = 0L // documents written, deleted, returned or scanned
  private var lookupHits = 0
  private var attempts = 0
  private var failures = 0
  private val opFailures = ArrayBuffer.empty[String] // first few, for the artifact

  override def setup(windows: Int): Double = {
    // warm-up on a small table so the JIT has compiled the op paths
    val w0 = System.nanoTime()
    val warm = ctx.dir("doc_store/warm")
    GraftDoc.write(initial(spark, 2000, ctx.seed), "o_orderkey", warm, overwrite = true)
    (1 to WarmRounds).foreach { r =>
      GraftDoc.write(docs(spark, (1L to 200L).map(_ * 7), r, ctx.seed), "o_orderkey", warm)
      GraftDoc.delete(spark, warm, spark.range(1, 20).toDF("k"))
      lookup(warm, 14L)
      scan(warm)
      GraftDoc.maintain(spark, warm, 2)
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx.log(f"warm-up done ($warmS%.2f s)")
    // the table itself, built several times: set-up time is the median,
    // and window w starts on build w
    require(windows <= SetupBuilds, s"$windows windows, $SetupBuilds tables")
    val builds = (0 until SetupBuilds).map { i =>
      val p = table(i)
      val t0 = System.nanoTime()
      GraftDoc.write(initial(spark, Docs, ctx.seed), "o_orderkey", p, overwrite = true)
      // a table in service carries a few live commits: rewrite slices of
      // the base (same values) so the first compaction falls inside the
      // first measured rounds
      (1 to PrefillCommits).foreach(j =>
        GraftDoc.write(docs(spark, (1L to 200L).map(_ * 97 + j), 0, ctx.seed), "o_orderkey", p))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.log(s"tables built: ${builds.map(b => f"$b%.2f").mkString(" ")} s")
    warmS + Stats.median(builds)
  }

  private def table(i: Int): String = s"${ctx.work}/doc_store/table$i"

  /** The model of a freshly built table, and the seed's first draw: every
    * window replays the same op sequence against the same table state. */
  private def resetModel(): Unit = {
    java.util.Arrays.fill(ver, -1)
    java.util.Arrays.fill(ver, 1, Docs + 1, 0)
    nextNew = Docs + 1L
    round = 0
    rng = new java.util.Random(ctx.seed * 1000003L + 17)
  }

  private def lookup(p: String, k: Long): Array[org.apache.spark.sql.Row] =
    GraftDoc.snapshot(spark, p).filter(col("_id") === k.toString)
      .select("ver", "o_totalprice").collect()

  private def scan(p: String): org.apache.spark.sql.Row =
    GraftDoc.snapshot(spark, p).agg(count(lit(1)), sum(col("ver").cast("long")),
      sum(functions.round(col("o_totalprice") * 100).cast("long"))).head()

  private def liveKeys: Int = ver.count(_ >= 0)

  /** A key drawn from the hot set (80%) or uniformly from all keys ever
    * issued, or a brand-new key. */
  private def upsertKeys(): Seq[Long] = {
    val ks = mutable.LinkedHashSet.empty[Long]
    while (ks.size < UpsertDocs) {
      val u = rng.nextDouble()
      val k =
        if (u < NewKeyShare) { nextNew += 1; nextNew - 1 }
        else if (u < 0.8) 1L + rng.nextInt(HotKeys)
        else 1L + rng.nextInt((nextNew - 1).toInt)
      ks += k
    }
    ks.toSeq
  }

  private def pickLive(): Long = {
    var k = 0L
    while ({ k = 1L + rng.nextInt((nextNew - 1).toInt); ver(k.toInt) < 0 }) ()
    k
  }

  private def fail(msg: String): Unit = {
    failures += 1
    if (opFailures.size < 20) opFailures += msg
  }

  private final case class Round(n: Int, upserts: Seq[Long], dels: Seq[Long], lookups: Seq[Long])

  /** Draw the next round's keys and apply its writes to the model. Only
    * the seed decides the draws, so replaying [[draw]] reproduces the op
    * sequence exactly. */
  private def draw(): Round = {
    round += 1
    val keys = upsertKeys()
    keys.foreach(k => ver(k.toInt) = round)
    val dels = Seq.fill(DeleteDocs)(pickLive()).distinct
    dels.foreach(k => ver(k.toInt) = -1)
    val lookups = Seq.fill(Lookups) {
      if (rng.nextDouble() < AbsentShare) {
        if (rng.nextBoolean()) MaxKey.toLong + 1 + rng.nextInt(1000) else dels.head
      } else if (rng.nextDouble() < 0.5) {
        var h = 0L
        while ({ h = 1L + rng.nextInt(HotKeys); ver(h.toInt) < 0 }) ()
        h
      } else pickLive()
    }
    val r = Round(round, keys, dels, lookups)
    opLog.update(r.toString.getBytes("UTF-8"))
    r
  }

  private def oneRound(): Unit = {
    val r = draw()
    // upsert + its inline maintenance
    val before = dirBytes(path)
    val (_, wMs) = ctx.timed("upsert") {
      GraftDoc.write(docs(spark, r.upserts, r.n, ctx.seed), "o_orderkey", path)
    }
    upsertBytes += dirBytes(path) - before
    upsertDocs += r.upserts.size
    val (compacted, mMs) = ctx.timed("maintain") {
      GraftDoc.maintain(spark, path, MaxLiveCommits)
    }
    if (compacted) { compactMs += mMs; rowsTouched += liveKeys }
    rowsTouched += r.upserts.size + r.dels.size
    upsertMs += wMs + mMs
    attempts += 1

    val (_, dMs) = ctx.timed("delete") {
      GraftDoc.delete(spark, path, spark.createDataFrame(r.dels.map(Tuple1(_))).toDF("k"))
    }
    deleteMs += dMs
    attempts += 1

    liveCommits += GraftDocLog.liveCommitCount(path).toDouble
    r.lookups.foreach { k =>
      val (rows, lMs) = ctx.timed("lookup")(lookup(path, k))
      lookupMs += lMs
      rowsTouched += rows.length
      lookupHits += rows.length
      attempts += 1
      val want = if (k <= MaxKey && ver(k.toInt) >= 0) Some(ver(k.toInt)) else None
      val got = rows.map(x => (x.getInt(0), math.round(x.getDouble(1) * 100)))
      val ok = want match {
        case None => got.isEmpty
        case Some(v) => got.length == 1 && got(0) == ((v, priceCents(k, v, ctx.seed)))
      }
      if (!ok) fail(s"lookup $k in round ${r.n}: got ${got.mkString(",")} want $want")
    }

    val (row, sMs) = ctx.timed("scan")(scan(path))
    scanMs += sMs
    rowsTouched += row.getLong(0)
    attempts += 1
    val (n, vs, cs) = modelTotals()
    if (row.getLong(0) != n || row.getLong(1) != vs || row.getLong(2) != cs)
      fail(s"scan in round ${r.n}: got $row want [$n,$vs,$cs]")
  }

  private def modelTotals(): (Long, Long, Long) = {
    var n = 0L; var vs = 0L; var cs = 0L
    var k = 1
    while (k < nextNew) {
      if (ver(k) >= 0) { n += 1; vs += ver(k); cs += priceCents(k, ver(k), ctx.seed) }
      k += 1
    }
    (n, vs, cs)
  }

  override def measure(window: Int): Map[String, Double] = {
    Seq(upsertMs, deleteMs, lookupMs, scanMs, compactMs, liveCommits)
      .foreach(_.clear())
    upsertDocs = 0L
    upsertBytes = 0L
    rowsTouched = 0L
    lookupHits = 0
    resetModel()
    path = table(window)
    windowsDone += 1
    // a fixed round count per window keeps the op mix, and so the mean,
    // the same from run to run
    rounds = math.max(MinRounds, math.round(ctx.seconds / SecondsPerRound).toInt)
    (1 to rounds).foreach(_ => oneRound())
    // each op kind weighs the same, however often it runs in a round
    val kinds = Seq(upsertMs, deleteMs, lookupMs, scanMs)
    ctx.log("window " + window + " ms, upsert / delete / lookup / scan: " +
      kinds.map(k => k.map(x => f"$x%.0f").mkString(",")).mkString(" / "))
    val (upTailQ, upTail, upN) = Stats.tail(upsertMs.toSeq)
    val (lkTailQ, lkTail, lkN) = Stats.tail(lookupMs.toSeq)
    Map(
      "op_p50_ms" -> Stats.median(kinds.map(k => Stats.median(k.toSeq))),
      "op_mean_ms" -> kinds.map(k => k.sum / k.size).sum / kinds.size,
      "rows_per_s" -> rowsTouched * 1000.0 / kinds.map(_.sum).sum,
      "doc.upsert_rows_per_s" -> upsertDocs * 1000.0 / upsertMs.sum,
      "doc_upsert_p50_ms" -> Stats.median(upsertMs.toSeq),
      "doc_upsert_tail_ms" -> upTail,
      "doc_delete_p50_ms" -> Stats.median(deleteMs.toSeq),
      "doc_lookup_p50_ms" -> Stats.median(lookupMs.toSeq),
      "doc_lookup_tail_ms" -> lkTail,
      "doc_scan_p50_ms" -> Stats.median(scanMs.toSeq),
      "doc.live_commits_mean" -> liveCommits.sum / liveCommits.size,
      "doc.compactions" -> compactMs.size.toDouble,
      "doc.compact_ms_p50" -> (if (compactMs.isEmpty) 0.0 else Stats.median(compactMs.toSeq)),
      "doc_store.rounds" -> rounds.toDouble,
      "doc_upsert_tail_pct" -> upTailQ, "doc_upsert_samples" -> upN.toDouble,
      "doc_lookup_tail_pct" -> lkTailQ, "doc_lookup_samples" -> lkN.toDouble)
  }

  override def layers(t: Trace, window: Int): Map[String, Double] = {
    val lookups = t.opsNamed("lookup").map(t.breakdown)
    val scans = t.opsNamed("scan").map(t.breakdown)
    val live = liveKeys.toDouble
    val fresh = freshBytesPerDoc()
    Map(
      "doc.lookup_rows_read_per_result" -> lookups.map(_("records_read")).sum / math.max(1, lookupHits),
      "doc.lookup_bytes_read" -> Stats.median(lookups.map(_("bytes_read"))),
      "doc.scan_rows_read_per_live_row" -> Stats.median(scans.map(_("records_read"))) / live,
      "doc.upsert_bytes_written_per_user_byte" ->
        upsertBytes / (fresh * upsertDocs),
      "doc.lookup_planning_ms_p50" -> Stats.median(lookups.map(_("planning_ms"))),
      "doc.lookup_between_jobs_ms_p50" -> Stats.median(lookups.map(_("between_jobs_ms"))),
      "doc_bytes_per_user_byte" -> dirBytes(path) / (fresh * live))
  }

  /** Bytes per live document when the live snapshot is written once, fresh. */
  private def freshBytesPerDoc(): Double = {
    val p = s"${ctx.work}/doc_store/fresh"
    GraftDoc.write(GraftDoc.snapshot(spark, path).withColumnRenamed("_id", "o_orderkey"),
      "o_orderkey", p, overwrite = true)
    dirBytes(p).toDouble / liveKeys
  }

  override def check(): Seq[String] = {
    val problems = ArrayBuffer.empty[String]
    // the final snapshot, compared document by document with the model
    val got = GraftDoc.snapshot(spark, path).select(col("_id").cast("long"), col("ver"),
      functions.round(col("o_totalprice") * 100).cast("long")).collect()
    val ids = got.map(_.getLong(0))
    if (ids.distinct.length != ids.length) problems += "final snapshot has duplicate _id"
    val bad = got.count { r =>
      val k = r.getLong(0)
      k > MaxKey || ver(k.toInt) != r.getInt(1) || priceCents(k, r.getInt(1), ctx.seed) != r.getLong(2)
    }
    if (bad > 0) problems += s"final snapshot: $bad documents differ from the model"
    if (got.length != liveKeys) problems += s"final snapshot: ${got.length} docs, model has $liveKeys"
    // the op sequence is a function of the seed alone
    if (new DocStore(ctx).opSequence(windowsDone, rounds) != opDigest)
      problems += "op sequence is not reproducible from the seed"
    problems.toList
  }

  /** Digest of the op sequence `windows` windows of `rounds` draws each
    * produce, replayed without touching the engine. */
  private[perfbench] def opSequence(windows: Int, rounds: Int): String = {
    (1 to windows).foreach { _ => resetModel(); (1 to rounds).foreach(_ => draw()) }
    opDigest
  }

  private def opDigest: String =
    opLog.clone().asInstanceOf[java.security.MessageDigest].digest().map("%02x".format(_)).mkString

  override def attempted: Int = attempts
  override def failed: Int = failures
  override def notes: Map[String, Any] = Map("doc_store.live_docs" -> liveKeys,
    "doc_store.windows" -> windowsDone, "doc_store.op_sequence_sha256" -> opDigest,
    "doc_store.op_failures" -> opFailures.mkString(" | "))
}

object DocStore {
  val Docs = 150000
  val HotKeys = 7500
  val UpsertDocs = 5000
  val NewKeyShare = 0.01
  val DeleteDocs = 100
  val Lookups = 10
  val AbsentShare = 0.1
  val MaxLiveCommits = 8
  val MinRounds = 2
  val SecondsPerRound = 6.0 // one round on 4 cores
  val PrefillCommits = 7
  val WarmRounds = 1
  val SetupBuilds = 3
  val MaxKey: Int = Docs + 200000

  /** Price of key k at version v: the one formula both the client model
    * and the generated documents use. */
  def priceCents(k: Long, v: Int, seed: Long): Long =
    java.lang.Math.floorMod(k * 2654435761L + v * 40503L + seed * 97L, 10000000L) + 100

  /** Documents in the orders shape. Every column is nullable, as it is
    * when orders are read from parquet. */
  private def body(df: DataFrame, v: Column, seed: Long): DataFrame = {
    val d = df.select(
      col("k").as("o_orderkey"),
      (pmod(col("k") * 7919, lit(15000)) + 1).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")), (pmod(col("k") + v, lit(3)) + 1).cast("int"))
        .as("o_orderstatus"),
      ((pmod(col("k") * 2654435761L + v.cast("long") * 40503L + seed * 97L, lit(10000000L)) + 100) /
        100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast("date"), pmod(col("k"), lit(2400)).cast("int"))
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .map(lit): _*), (pmod(col("k"), lit(5)) + 1).cast("int")).as("o_orderpriority"),
      v.cast("int").as("ver"))
    d.sparkSession.createDataFrame(d.rdd, StructType(d.schema.map(_.copy(nullable = true))))
  }

  type Column = org.apache.spark.sql.Column

  def initial(spark: SparkSession, n: Int, seed: Long): DataFrame =
    body(spark.range(1, n + 1L).toDF("k"), lit(0), seed)

  def docs(spark: SparkSession, keys: Seq[Long], v: Int, seed: Long): DataFrame =
    body(spark.createDataFrame(keys.map(Tuple1(_))).toDF("k"), lit(v), seed)

  def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}
