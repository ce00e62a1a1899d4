package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming pipelines over the events table (SURVEY.md §2.10).
  *
  * The reference's entire identity is a streaming source feeding a batch
  * sink (`MapRStreamingSource.java:70-94` → `MapRDBJSONSink.java`); its
  * DStream micro-batch semantics map to Structured Streaming micro-batches.
  * Kafka itself isn't reachable in the offline sandbox, so the parquet file
  * source stands in: same unbounded-table model, same incremental execution,
  * different connector (`readStream.format("kafka")` swaps in 1:1 — see
  * [[graft.sources.Tables]] scaladoc for the option mapping).
  *
  * Each pipeline runs with `Trigger.AvailableNow` into a named memory sink
  * and returns the sink table: a real incremental streaming execution whose
  * final result is deterministically comparable to a batch DuckDB oracle —
  * that is how the driver's correctness gate covers streaming semantics.
  *
  * Scale notes: event-time windowed aggregation shuffles by (window, key)
  * with map-side partial aggregation; watermarks bound state. On a real
  * cluster the same code runs with a durable checkpointLocation and RocksDB
  * state store for state larger than executor memory.
  */
object StreamPipelines {

  private val nameCounter = new AtomicInteger(0)

  /** Streaming view of events.parquet (schema from a batch peek — the file
    * source requires a declared schema, reference parity S4: declared
    * schemas, `MapRStreamConfig.java:81-87`). */
  private def eventsStream(s: SparkSession, sfDir: String): DataFrame = {
    val schema = s.read.parquet(s"$sfDir/events.parquet").schema
    graft.sources.Tables.normalizeEvents(
      s.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Stateful-operator parallelism is pinned at the FIRST micro-batch (the
    * state store partition count is written into the checkpoint), so it is
    * a per-query decision, not a session one. Each state partition carries
    * fixed per-batch cost (store open/commit/snapshot — and a stream-stream
    * join runs FOUR internal stores per partition), so partitions should be
    * sized to state volume: at 100 TB you'd raise this to spread state
    * across executors; for these drains the state is tiny and the fixed
    * cost dominates, so we cap it. Benchmarked at local[32]: q85 14.8 s →
    * ~4 s with the cap; correctness is partition-count-invariant. */
  private val StreamShufflePartitions = 8

  private def withStreamShufflePartitions[T](s: SparkSession)(f: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", math.min(
      s.conf.get("spark.sql.shuffle.partitions").toInt,
      StreamShufflePartitions).toString)(f)

  /** Persist + materialize a stream-static model frame for the duration
    * of `body`. Without this, every micro-batch re-plans the static side
    * of the stream-static join and RE-EXECUTES the whole training
    * subtree (2 triggers = 2 extra retrains, plus their scheduling
    * noise) — the q8p fixed-cost bimodality: under ambient contention
    * the repeated training job is the part that inflates 3-4x. Frozen
    * serves pay the training job exactly once per run; the per-trigger
    * join then reads the one cached row. At 100 TB this is also the
    * right production shape: the model retrains on a slow cadence and
    * the serving stream only ever sees the materialized frame. */
  private def withFrozenModel[T](m: DataFrame)(body: DataFrame => T): T =
    withFrozenModels(Seq(m))(ps => body(ps.head))

  /** [[withFrozenModel]] for SEVERAL static frames at once (q8v's four
    * lookup tables): persist all, materialize all, unpersist all. */
  private def withFrozenModels[T](ms: Seq[DataFrame])(
      body: Seq[DataFrame] => T): T = {
    val ps = ms.map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY))
    ps.foreach(_.count())
    try body(ps) finally { ps.foreach(_.unpersist(false)); () }
  }

  /** One-shot drains are ephemeral — the result lands in a memory sink and
    * the checkpoint is discarded — so there is nothing to make durable;
    * placing the checkpoint on tmpfs removes the state store's per-commit
    * file sync from the drain (measured: the q85 stream-stream join spends
    * ~8 of its 10 s committing ~40k buffered join rows through 8
    * partitions × 4 internal stores to disk). Durable-checkpoint behavior
    * is covered where it matters: `StreamRecoverySpec` / `ScaleStateSpec`
    * use explicit on-disk checkpoints and restart from them. A production
    * query sets a durable (object-store) checkpointLocation instead. */
  private def ephemeralCheckpoint(name: String): java.io.File = {
    val shm = new java.io.File("/dev/shm")
    val root = if (shm.isDirectory && shm.canWrite) shm
      else new java.io.File(System.getProperty("java.io.tmpdir"))
    val dir = new java.io.File(root, s"graft_ckpt_${name}_${System.nanoTime()}")
    dir.mkdirs()
    dir
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** `body` runs with the path of a fresh [[ephemeralCheckpoint]], which
    * is deleted afterwards — also when the body fails, so a failed drain
    * never leaks /dev/shm. Every [[drain]] the body runs against the path
    * resumes from the offsets the previous one committed. */
  private def withEphemeralCheckpoint[T](name: String)(body: String => T): T = {
    val ckpt = ephemeralCheckpoint(name)
    try body(ckpt.getAbsolutePath) finally deleteRecursively(ckpt)
  }

  /** The one-shot drain behind [[runToMemory]], [[drainBatches]] and the
    * q8t wire sink (the two `GraftDoc.writeStream` pipelines keep their
    * own durable checkpoints): `df` goes to the sink `sink` configures,
    * under the stateful-parallelism cap ([[withStreamShufflePartitions]],
    * restored afterwards), with `Trigger.AvailableNow` — all input
    * present at start is consumed, then the query stops — and a blocking
    * wait for that termination, so a failure inside the query surfaces
    * here as a `StreamingQueryException`. */
  private def drain(s: SparkSession, df: DataFrame, ckpt: String)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    withStreamShufflePartitions(s) {
      sink(df.writeStream)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }

  /** A graft-doc table's CDC tail, one commit per micro-batch: commit n
    * arrives as batch n, so the watermark advances commit by commit and a
    * fold sees each commit's rows (and, `withOp`, its `_op` change type)
    * on their own. */
  private[graft] def cdcTail(s: SparkSession, path: String,
      withOp: Boolean = false): DataFrame =
    graft.connector.GraftDoc.readStream(s, path, maxCommitsPerTrigger = Some(1L),
      withOp = withOp)

  /** A `withOp` [[cdcTail]] frame split by change type: its inserts, with
    * `_id` cast to the long column `key` ahead of `cols`, and its
    * deletes, as `key` alone. */
  private def splitOps(cdc: DataFrame, key: String,
      cols: String*): (DataFrame, DataFrame) = {
    val id = col("_id").cast("long").as(key)
    (cdc.filter(col("_op") === "insert").select(id +: cols.map(col): _*),
      cdc.filter(col("_op") === "delete").select(id))
  }

  /** Drain `stream` through `fold`, one call per micro-batch, and return
    * the highest batch id folded (−1 when no batch ran).
    *
    * The fold is a multi-step batch computation keyed by batch id, which
    * is what foreachBatch exists for. foreachBatch is at-least-once: a
    * retried micro-batch re-arrives with the SAME batch id, so every
    * fold keeps its state in [[Generations]], whose layout is keyed by
    * that id; a local counter would fold a replay twice. */
  private[graft] def drainBatches(s: SparkSession, name: String,
      stream: DataFrame)(fold: (DataFrame, Long) => Unit): Long = {
    val last = new java.util.concurrent.atomic.AtomicLong(-1L)
    withEphemeralCheckpoint(name)(drain(s, stream, _)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        fold(batch, batchId)
        last.accumulateAndGet(batchId, math.max(_, _))
        ()
      }))
    last.get
  }

  /** The generation layout of one named piece of a CDC fold's state
    * (`tomb`, `idx`, `g`, ...) under the fold's temp dir `tmp`: the one
    * place that knows how [[drainBatches]]' replay rule maps to paths.
    *
    * Batch v reads generation v and writes generation v+1, with
    * overwrite, so a replayed batch re-reads its untouched input and
    * rewrites the same output: it folds exactly once. Generation 0 is the
    * state before the first batch — written by the fold's build at
    * `in(0)`, an empty [[seed]], or the external `base` path, read in
    * place — and after a drain that returned `last`, `out(last)` /
    * `after(last)` is the final generation (generation 0 when no batch
    * ran). A piece that keeps only each batch's delta is read back as
    * the union of its generations, [[parts]]. */
  private[graft] final case class Generations(s: SparkSession, tmp: String,
      name: String, base: Option[String] = None) {
    /** Generation v: batch v's input. */
    def in(v: Long): String =
      base.filter(_ => v == 0).getOrElse(s"$tmp/${name}_v$v")

    /** Generation v+1: batch v's output. */
    def out(v: Long): String = in(v + 1)

    def read(v: Long): DataFrame = s.read.parquet(in(v))

    def after(v: Long): DataFrame = s.read.parquet(out(v))

    def write(v: Long, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(out(v))

    /** Batch v's step: generation v+1 = `f`(generation v). */
    def step(v: Long)(f: DataFrame => DataFrame): Unit = write(v, f(read(v)))

    /** Batch v's tombstone step: generation v+1 = generation v ∪ `del`. */
    def tombstone(v: Long, del: DataFrame): Unit = step(v)(_.unionByName(del))

    /** Writes an empty generation 0 with the columns of the DDL `schema`. */
    def seed(schema: String): Unit =
      s.range(0).select(org.apache.spark.sql.types.StructType.fromDDL(schema)
          .map(f => col("id").cast(f.dataType).as(f.name)): _*)
        .write.mode("overwrite").parquet(in(0))

    /** Every generation written, read as one parquet relation. The glob
      * is resolved here, in the order Spark's own expansion returns, so
      * the reader is handed real directories: handed the pattern, Spark
      * stats it as a path while probing for a streaming sink's metadata
      * log and logs the miss with a full stack trace. With no match the
      * pattern itself is read, which fails. */
    def parts: DataFrame = {
      val glob = s"$tmp/${name}_v*"
      val p = new org.apache.hadoop.fs.Path(glob)
      val dirs = Option(p.getFileSystem(s.sessionState.newHadoopConf()).globStatus(p))
        .map(_.map(_.getPath.toString).toSeq).getOrElse(Nil)
      s.read.parquet((if (dirs.isEmpty) Seq(glob) else dirs): _*)
    }
  }

  /** Run a one-shot (AvailableNow) streaming query into a memory sink and
    * return the materialized result. */
  private def runToMemory(s: SparkSession, df: DataFrame,
      mode: String): DataFrame = {
    val name = s"graft_stream_${nameCounter.incrementAndGet()}"
    withEphemeralCheckpoint(name)(drain(s, df, _)(
      _.format("memory").queryName(name).outputMode(mode)))
    // eagerly materialize (localCheckpoint runs the copy job NOW) so the
    // memory-sink temp view can be dropped immediately — the returned
    // frame reads its own cached blocks, not the catalog view, so a
    // lazily-held result consumed after a later drain, or two pipelines
    // draining concurrently, can never hit a dropped view; the blocks are
    // released by the ContextCleaner once the frame is unreachable
    val out = s.table(name).localCheckpoint()
    s.catalog.dropTempView(name)
    out
  }

  /** Batch-side event-time ceiling used to bound append-mode drains to
    * the deterministically-flushed region: `max(ts) - margin`. Applied as
    * a POST-filter on the drained output, never on the stream — filtering
    * a stream lowers its own max event time, drags the watermark down and
    * un-flushes rows just inside the horizon. (Multi-branch pipelines
    * like q88 must instead anchor to the MIN over each branch's own max —
    * built inline there, not expressible as a single max-minus-margin.) */
  private def horizonEnd(s: SparkSession, sfDir: String, margin: String): DataFrame =
    graft.sources.Tables.normalizeEvents(s.read.parquet(s"$sfDir/events.parquet"))
      .agg((max(col("ts")) - expr(s"INTERVAL $margin")).as("h_end"))

  /** Tumbling 1-hour event-time windows by event type. Append output mode:
    * a window row is emitted exactly once, when the watermark passes its
    * end — the state store holds only open windows (watermark-evicted),
    * which is the 100 TB execution shape; complete mode would re-emit and
    * retain every window forever. Determinism contract: the final
    * watermark stops at max event time − 1 h, so windows ending above it
    * never flush — the drained result is post-filtered (batch side, both
    * engines) to windows ending ≥ 1 h below that watermark. */
  def tumblingWindows(s: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(s, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,8)")).as("dec_total"))
    runToMemory(s, agg, "append")
      .crossJoin(broadcast(horizonEnd(s, sfDir, "2 HOURS")))
      .filter(col("window.end") < col("h_end"))
      .select(
        dayofmonth(col("window.start")).as("d"),
        hour(col("window.start")).as("h"),
        col("event_type"), col("n"),
        round(col("dec_total").cast("double"), 2).as("total_value"))
      .orderBy(col("d"), col("h"), col("event_type"))
  }

  /** Streaming distribution monitoring — the latency-SLO shape: per
    * 6-hour tumbling window and event type, quantiles computed IN the
    * stream by the GK sketch (`approx_percentile`), because an exact
    * percentile cannot run in a stream (its state buffers every value;
    * the q0b/q0c exact-vs-sketch line applied to §2.10). The drained
    * sketch answers are then VERIFIED against the raw corpus: per
    * window, the count of values ≤/< the sketch's answer must land in
    * the ±2%-rank band around the target quantile (the sketch itself
    * guarantees ±0.01% at accuracy 10000 — 200× margin), and the exact
    * interpolated percentile rides along as the anchor the oracle
    * hash-matches. `n` is the STREAM's window count while the verify
    * counts come from the batch join — a windowing or watermark bug
    * desynchronizes them and fails the oracle row count/hash. */
  def streamWindowQuantile(s: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(s, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("approx_percentile(value, 0.5d, 10000)").as("a50"),
        expr("approx_percentile(value, 0.95d, 10000)").as("a95"))
    val drained = runToMemory(s, agg, "append")
      .crossJoin(broadcast(horizonEnd(s, sfDir, "2 HOURS")))
      .filter(col("window.end") < col("h_end"))
      .select(col("window.start").cast("long").as("ws_s"),
        col("event_type"), col("n"), col("a50"), col("a95"))
    val ev = graft.sources.Tables.normalizeEvents(
        s.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_type"), col("value"),
        expr("(ts_ns div 1000000000) - pmod(ts_ns div 1000000000, 21600)")
          .as("ws_s"))
    ev.join(broadcast(drained), Seq("ws_s", "event_type"))
      .groupBy(col("ws_s"), col("event_type"), col("n"), col("a50"),
        col("a95"))
      .agg(
        sum(when(col("value") <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(col("value") < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(col("value") <= col("a95"), 1L).otherwise(0L)).as("le95"),
        sum(when(col("value") < col("a95"), 1L).otherwise(0L)).as("lt95"),
        // interpolate in integer CENTS: midpoints are exact dyadic
        // quarters, so both engines produce the identical double without
        // any rounding step (round-to-2 diverges on .xx5 midpoints:
        // Spark's round canonicalizes through Double.toString while
        // DuckDB rounds the true binary value)
        (expr("percentile(cast(round(value * 100, 0) as bigint), 0.5d)")
          / 100.0).as("p50_exact"),
        (expr("percentile(cast(round(value * 100, 0) as bigint), 0.95d)")
          / 100.0).as("p95_exact"))
      .select(
        dayofmonth(to_timestamp(col("ws_s"))).as("d"),
        hour(to_timestamp(col("ws_s"))).as("h"),
        col("event_type"), col("n"), col("p50_exact"), col("p95_exact"),
        (col("le50") >= expr("(48 * n) div 100") &&
          col("lt50") <= expr("(52 * n + 99) div 100")).as("p50_in_band"),
        (col("le95") >= expr("(93 * n) div 100") &&
          col("lt95") <= expr("(97 * n + 99) div 100")).as("p95_in_band"))
      .orderBy(col("d"), col("h"), col("event_type"))
  }

  /** Streaming exact dedup on event_id (at-least-once source → exactly-once
    * result, the reference's W1 `_id`-idempotence story, SURVEY.md §2.10).
    * The stateful operator is the dedup alone — it emits each first-seen
    * row immediately (append mode), and the per-type rollup runs as a
    * BATCH aggregation over the drained output. The round-2 shape
    * aggregated inside the stream, which forced complete mode and
    * unbounded group state.
    *
    * `dropDuplicatesWithinWatermark`, not plain `dropDuplicates`: with
    * the dedup key alone (no event-time column in the subset) the plain
    * operator never evicts its seen-key state — it grows with every key
    * ever seen. The WithinWatermark variant expires a key once the
    * watermark passes its event time + delay, which is exactly the
    * at-least-once replay window (a source retries within the delay, not
    * hours later), so state is bounded by the delay's key arrival rate. */
  def streamDedup(s: SparkSession, sfDir: String): DataFrame = {
    val dedup = eventsStream(s, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("event_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("event_id")
    runToMemory(s, dedup, "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_unique"))
      .orderBy(col("event_type"))
  }

  /** Custom per-key state via flatMapGroupsWithState (SURVEY.md §2.10):
    * a running per-user accumulator (event count, max value) that emits
    * ONCE per key, on event-time timeout — each update batch extends the
    * timeout to just past the current watermark, so the group flushes
    * exactly when the watermark passes its last activity (here: the final
    * drain batch). Output volume is #keys, not #keys × #batches, and
    * there is no post-hoc dedup window — the at-scale emission pattern
    * (the every-batch variant multiplies sink load by the batch count).
    * State is one fixed-width tuple per user; the timeout also bounds
    * state for unbounded key spaces. */
  def statefulUserTotals(s: SparkSession, sfDir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the event-time (watermarked) column must survive projection all the
    // way into groupByKey, or the watermark — and with it event-time
    // timeouts — is silently projected away
    val ev = eventsStream(s, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("value").as[Double],
        col("ts").as[java.sql.Timestamp])
    val finals = ev.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user: Long, rows: Iterator[(Long, Double, java.sql.Timestamp)],
            state: GroupState[(Long, Double)]) =>
          if (state.hasTimedOut) {
            val (n, mx) = state.get
            state.remove()
            Iterator.single((user, n, mx))
          } else {
            var (n, mx) = state.getOption.getOrElse((0L, Double.MinValue))
            rows.foreach { case (_, v, _) => n += 1; mx = math.max(mx, v) }
            state.update((n, mx))
            // flush as soon as the watermark moves past this batch
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
            Iterator.empty
          }
      }
      .toDF("user_id", "n_events", "max_value")
    // Combine emissions per key in the drained output: a key that goes
    // quiescent for longer than the watermark delay mid-stream and then
    // reappears flushes more than once (each flush covering a disjoint
    // slice of its events), so sum/max recombine the slices exactly; for
    // a single-batch drain this is the identity. Without it a multi-
    // micro-batch drain would emit duplicate user_id rows.
    runToMemory(s, finals, "append")
      .groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        round(max(col("max_value")), 2).as("max_value"))
      .orderBy(col("user_id"))
  }

  /** The reference's exact topology, end to end: stream source → keyed
    * JSON-document sink (`_id` hoisted, key dropped from body —
    * `MapRDBJSONSink.java:140-146`) through the DSv2 `graft-doc`
    * StreamingWrite (one commit per micro-batch, idempotent per epoch),
    * then read the upsert-resolved snapshot back and aggregate. This is
    * the parity pipeline of SURVEY.md §7.1, executed as a real
    * incremental stream into a real connector. */
  def streamToDocSink(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_doc_sink")
    withStreamShufflePartitions(s) {
      graft.connector.GraftDoc.writeStream(
        eventsStream(s, sfDir).drop("ts_ns"), // ns long is redundant with ts
        keyField = "event_id",
        path = s"$tmp/out", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
    }
    graft.connector.GraftDoc.snapshot(s, s"$tmp/out")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("_id")).as("n_ids"))
      .orderBy(col("event_type"))
  }

  /** Sliding event-time windows (2-hour width, 1-hour slide): every event
    * contributes to two overlapping windows. Append mode — watermark
    * bounds open-window state to width + lateness and each window emits
    * once on close; drained result post-filtered (both engines) to
    * windows ending ≥ 1 h below the final watermark. */
  def slidingWindows(s: SparkSession, sfDir: String): DataFrame = {
    val agg = eventsStream(s, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToMemory(s, agg, "append")
      .crossJoin(broadcast(horizonEnd(s, sfDir, "2 HOURS")))
      .filter(col("window.end") < col("h_end"))
      .select(
        dayofmonth(col("window.start")).as("d"),
        hour(col("window.start")).as("h"),
        col("event_type"), col("n"))
      .orderBy(col("d"), col("h"), col("event_type"))
  }

  /** Stream-static join: the streaming fact side joins a static dimension
    * snapshot — completely stateless, the dimension is broadcast per
    * micro-batch, every joined row emits immediately (append mode). The
    * enrichment rollup runs as a BATCH aggregation over the drained
    * output (round 2 aggregated in-stream, forcing complete mode). */
  def streamStaticJoin(s: SparkSession, sfDir: String): DataFrame = {
    val customers = s.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(s, sfDir)
      .join(customers, col("user_id") === col("c_custkey"))
      .select(col("c_mktsegment"))
    runToMemory(s, joined, "append")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("c_mktsegment"))
  }

  /** Continuous incremental dedup — the streaming twin of batch q6b: a
    * CDC tail of newly-ingested documents is anti-joined against the
    * HISTORICAL corpus snapshot's content hashes, passing only
    * never-seen-before content downstream. Stream-static anti join is
    * STATELESS (the static side is planned per micro-batch; no watermark,
    * no state store) — at 100 TB the static side is a hash-only table
    * (32-byte rows) and the q6g Bloom sketch is the scan-side prefilter
    * for it; the streaming semantics live here, the prefilter algebra is
    * proven batch-side by q6g's shared oracle. */
  def docStreamIncrementalDedup(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_doc_incr")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    // incoming batches: docs ≥ 250 land in the ingest table in two commits
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    // historical corpus: content hashes only (the 100 TB shape)
    val seen = docs.filter(col("doc_id") < 250)
      .select(sha2(col("text"), 256).as("h"))
    val novel = cdcTail(s, s"$tmp/in")
      .withColumn("h", sha2(col("text"), 256))
      .join(seen, Seq("h"), "left_anti")
      .select(col("lang"))
    runToMemory(s, novel, "append")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_novel"))
      .orderBy(col("lang"))
  }

  /** Streaming NEAR-dup serve (q8q) — qa5's serve half online: incoming
    * documents arrive through the graft-doc CDC tail in two commits and
    * each micro-batch is screened against the PERSISTED snapshot index
    * (drop list, capped shingle sets, 32×4 LSH band buckets — the same
    * build qa5 writes), emitting the best ≥0.7-Jaccard snapshot match
    * per incoming doc. STATELESS end to end (zero state store rows):
    *   - the capped shingle set is computed ROW-LOCALLY —
    *     `array_except` against the drop list folded to ONE broadcast
    *     row (the centroid idiom), instead of the batch side's
    *     explode→anti-join→collect_set, which as a streaming plan would
    *     be an aggregation holding per-doc state;
    *   - signature + banding are row-local native expressions;
    *   - bucket collisions and set verification are stream-static equi
    *     joins against the persisted parquet index (the standing corpus
    *     lives in a store; the stream only probes it — the serve shape
    *     a continuous crawl wants at 100 TB);
    *   - per-doc best-match selection happens AFTER the drain on the
    *     drained candidate rows (band-duplicate pairs dedupe there), so
    *     no streaming aggregation state is held.
    * Shares qa5's exact all-pairs oracle — the streamed serve must be
    * indistinguishable from the batch incremental run. */
  def docStreamMinhashServe(s: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{HashExpressions, TextExpressions}
    val tmp = graft.TempDirs.create("graft_mh_serve")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // BUILD: the qa5 snapshot index, persisted
    val basePosting = docs.filter(col("doc_id") < 250)
      .select(col("doc_id"),
        explode(TextExpressions.word_shingles(col("text"), 3)).as("sh"))
    basePosting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > 200).select(col("sh"))
      .write.mode("overwrite").parquet(s"$tmp/hot")
    val hotR = s.read.parquet(s"$tmp/hot")
    basePosting.join(broadcast(hotR), Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))
      .write.mode("overwrite").parquet(s"$tmp/sets")
    val baseSetsR = s.read.parquet(s"$tmp/sets")
    baseSetsR.select(col("doc_id").as("mid"),
        HashExpressions.minhash_signature(col("sh"), k = 128).as("sig"))
      .select(col("mid"),
        explode(transform(sequence(lit(0), lit(31)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * 4 + 1, lit(4))).as("bh"))))
          .as("bb"))
      .select(col("mid"), col("bb.band").as("band"), col("bb.bh").as("bh"))
      .write.mode("overwrite").parquet(s"$tmp/buckets")
    // drop list folded to one broadcast row for row-local capping
    val hotArr = hotR.agg(sort_array(collect_list(col("sh"))).as("hot"))
    // ingest: incoming docs land in two commits
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val idx = s.read.parquet(s"$tmp/buckets")
    val sets = s.read.parquet(s"$tmp/sets")
      .select(col("doc_id").as("mid"), col("sh").as("sh_i"))
    val matches = cdcTail(s, s"$tmp/in")
      .select(col("_id").cast("long").as("doc_id"), col("text"))
      .crossJoin(broadcast(hotArr))
      .select(col("doc_id"),
        array_except(TextExpressions.word_shingles(col("text"), 3),
          col("hot")).as("sh_q"))
      .filter(size(col("sh_q")) > 0)
      .withColumn("sig",
        HashExpressions.minhash_signature(col("sh_q"), k = 128))
      .select(col("doc_id"), col("sh_q"),
        explode(transform(sequence(lit(0), lit(31)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * 4 + 1, lit(4))).as("bh"))))
          .as("bb"))
      .select(col("doc_id"), col("sh_q"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
      .join(idx, Seq("band", "bh"))
      .join(sets, Seq("mid"))
      .withColumn("jac",
        size(array_intersect(col("sh_q"), col("sh_i"))) * 1.0 /
          size(array_union(col("sh_q"), col("sh_i"))))
      .filter(col("jac") >= 0.7)
      .select(col("doc_id"), col("mid"), col("jac"))
    runToMemory(s, matches, "append")
      .distinct() // band-duplicate candidate pairs collapse post-drain
      .groupBy(col("doc_id"))
      .agg(max(struct(col("jac"), negate(col("mid")).as("nm"),
        col("mid"))).as("b"),
        count(lit(1)).as("n_cand"))
      .select(col("doc_id"), col("b.mid").as("match_id"),
        round(col("b.jac"), 4).as("jac"), col("n_cand"))
      .orderBy(col("doc_id"))
  }

  /** Continuous content-defined chunk dedup — the streaming twin of q5y,
    * on the q8e template: new documents arrive through the graft-doc CDC
    * tail in two commits, each micro-batch is chunked ROW-LOCALLY
    * ([[graft.queries.TextAnalysis.cdcChunks]] is pure per-row HOFs, so
    * it lifts into a streaming plan unchanged), and every chunk hash is
    * checked against the historical corpus's chunk-hash set by a
    * stream-static left join — STATELESS (zero state store rows; the
    * history side is a bounded hash table, the 100 TB shape where the
    * standing set lives in a store and the stream only probes it).
    * Per-doc and per-lang rollups happen after the drain (batch-side),
    * so no streaming aggregation state is held either. */
  def docStreamChunkDedup(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_chunk_incr")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val histChunks = graft.queries.TextAnalysis
      .cdcChunks(docs.filter(col("doc_id") < 250))
      .select(sha2(col("chunk"), 256).as("h"))
      .distinct()
      .withColumn("known", lit(1))
    val flagged = graft.queries.TextAnalysis
      .cdcChunks(cdcTail(s, s"$tmp/in")
        // the sink hoisted the key into `_id` (string) — restore it
        .select(col("_id").cast("long").as("doc_id"), col("text")))
      .withColumn("h", sha2(col("chunk"), 256))
      .join(histChunks, Seq("h"), "left")
      .select(col("doc_id"), col("known"))
    runToMemory(s, flagged, "append")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("known").isNotNull, 1L).otherwise(0L)).as("n_known"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chunks")).as("n_chunks"),
        sum(col("n_known")).as("n_known_chunks"))
      .orderBy(col("lang"))
  }

  /** q8k: continuous blocklist screening — q93's Aho–Corasick scan lifted
    * into a micro-batch plan. The pattern frame (top-20 bigram phrases of
    * the HISTORICAL corpus, a 1-row array) is the static side of a
    * stream-static broadcast equi-join on a constant key (the streaming
    * planner's spelling of "cross-broadcast a scalar frame"), so each
    * batch compiles the automaton once per partition and scans its
    * documents row-locally — no state store rows at all. Per-pattern
    * rollups happen post-drain, batch-side. */
  def docStreamBlocklist(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_blocklist_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val pats = graft.queries.TextAnalysis
      .topBigrams(docs.filter(col("doc_id") < 250), 20)
      .agg(sort_array(collect_list(col("pat"))).as("patterns"))
      .withColumn("k", lit(1))
    val hits = cdcTail(s, s"$tmp/in")
      .select(col("_id").cast("long").as("doc_id"), col("text"),
        lit(1).as("k"))
      .join(broadcast(pats), Seq("k"))
      .select(col("doc_id"),
        explode(graft.functions.MultiPattern.multi_pattern_counts(
          col("text"), col("patterns"))).as("h"))
      .select(col("doc_id"), col("h.pattern").as("pattern"),
        col("h.cnt").as("cnt"))
    runToMemory(s, hits, "append")
      .groupBy(col("pattern"))
      .agg(count(when(col("cnt") > 0, lit(1))).as("n_docs"),
        sum(col("cnt")).cast("long").as("total_hits"))
      .orderBy(col("pattern"))
  }

  /** q8l: continuous BPE tokenization — the trained tokenizer applied to
    * documents AS THEY ARRIVE, the online half of the q90/q91 lifecycle
    * (train once on the historical corpus, encode the ingest stream
    * forever). Merges train on the static side; the 1-row merge frame
    * joins each micro-batch on a constant key (broadcast, stateless) and
    * the encode itself is pure row-local column algebra
    * ([[graft.queries.TextAnalysis.bpeEncodeCols]] lifts unchanged into
    * the streaming plan). Zero state rows; per-doc rows drain append. */
  def docStreamBpeEncode(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_bpe_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val merges0 = graft.queries.TextAnalysis
      .bpeMergeFrame(docs.filter(col("doc_id") < 250))
      .withColumn("k", lit(1))
    withFrozenModel(merges0) { merges =>
      val encoded = graft.queries.TextAnalysis.bpeEncodeCols(
        cdcTail(s, s"$tmp/in")
          .select(col("_id").cast("long").as("doc_id"), col("text"),
            lit(1).as("k"))
          .join(broadcast(merges), Seq("k")))
      runToMemory(s, encoded, "append")
        .orderBy(col("doc_id"))
    }
  }

  /** qc3: continuous unigram-LM tokenization — qap's streaming twin on
    * the q8l/q8v frozen-model template, completing the tokenizer
    * TRIAD's streaming story (BPE q8l, unigram here, WordPiece qc4):
    * the two EM rounds train once on the historical corpus and the
    * final segmentation folds to ONE broadcastable row (a word → np
    * map, [[graft.operators.UnigramLm.npMapFrame]]); every
    * CDC-arriving document encodes ROW-LOCALLY via two HOFs over its
    * kept words — no explode, no per-token shuffle, zero state rows
    * (stateless append). The q8p serve-shape argument applies
    * verbatim: the model broadcasts once per executor and scoring runs
    * at scan bandwidth; retrains land batch-side on a slow cadence and
    * swap in without touching the stream topology. */
  def docStreamUnigramEncode(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_uni_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val model0 = graft.operators.UnigramLm
      .npMapFrame(docs.filter(col("doc_id") < 250))
      .withColumn("k", lit(1))
    withFrozenModel(model0) { model =>
      val encoded = graft.operators.UnigramLm.encodeCols(
        cdcTail(s, s"$tmp/in")
          .select(col("_id").cast("long").as("doc_id"), col("text"),
            lit(1).as("k"))
          .join(broadcast(model), Seq("k")))
      runToMemory(s, encoded, "append")
        .orderBy(col("doc_id"))
    }
  }

  /** qc4: continuous WordPiece tokenization — qas's streaming twin,
    * the third and last tokenizer family's encode on the ingest
    * stream (the qc3 shape): MaxMatch runs ONCE per vocabulary word
    * at training time, the per-word accounting folds to one
    * broadcastable map row
    * ([[graft.operators.WordPiece.wpMapFrame]]), and arriving
    * documents encode by pure row-local map lookup — stateless
    * append, zero state rows. */
  def docStreamWordPieceEncode(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_wp_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val model0 = graft.operators.WordPiece
      .wpMapFrame(docs.filter(col("doc_id") < 250))
      .withColumn("k", lit(1))
    withFrozenModel(model0) { model =>
      val encoded = graft.operators.WordPiece.encodeCols(
        cdcTail(s, s"$tmp/in")
          .select(col("_id").cast("long").as("doc_id"), col("text"),
            lit(1).as("k"))
          .join(broadcast(model), Seq("k")))
      runToMemory(s, encoded, "append")
        .orderBy(col("doc_id"))
    }
  }

  /** q8p: continuous DSIR scoring — qa1's streaming twin on the
    * q8k/q8l/q8n template (train batch-side, serve on the ingest stream):
    * the log-ratio model trains once on the historical corpus and folds
    * to ONE broadcastable row (a 512-entry map + the unseen-bucket
    * fallback term); every CDC-arriving document scores ROW-LOCALLY via
    * one aggregate HOF over its bigram buckets — no explode, no per-token
    * shuffle, zero state rows (stateless append). That row-local shape is
    * deliberate: qa1's batch form (explode → join → groupBy) would be a
    * streaming aggregation needing a watermark; folding the model to a
    * map moves the whole per-doc weight inside the row, which is also the
    * serve shape a 100 TB ingest wants (model broadcast once per
    * executor, scoring at scan bandwidth). */
  def docStreamDsir(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_dsir_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val model0 = graft.queries.TextAnalysis
      .dsirModelFrame(docs.filter(col("doc_id") < 250))
      .withColumn("k", lit(1))
    withFrozenModel(model0) { model =>
      val scored = graft.queries.TextAnalysis.dsirScoreCols(
        cdcTail(s, s"$tmp/in")
          .select(col("_id").cast("long").as("doc_id"), col("text"),
            lit(1).as("k"))
          .join(broadcast(model), Seq("k")))
      runToMemory(s, scored, "append")
        .orderBy(col("doc_id"))
    }
  }

  /** q8u: continuous quality-classifier scoring — qav's streaming twin
    * on the q8k/q8l/q8n/q8p template (train batch-side, serve on the
    * ingest stream): the fixed-point linear scorer trains its three GD
    * rounds on the historical corpus, the final weights fold to ONE
    * broadcastable row, and every CDC-arriving document scores
    * ROW-LOCALLY (features are per-row HOFs, the margin is column
    * algebra) — stateless append, zero state rows. This is the
    * model-based-filtering serve shape at 100 TB: the classifier
    * retrains on a slow cadence batch-side and the new weight row swaps
    * in without touching the stream topology (exactly q8n's baseline
    * argument, applied to a TRAINED model). */
  def docStreamQualityScore(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_qc_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val weights0 = graft.operators.QualityClassifier
      .weightsFrame(docs.filter(col("doc_id") < 250))
      .withColumn("k", lit(1))
    withFrozenModel(weights0) { weights =>
      val scored = graft.operators.QualityClassifier.scoreCols(
        cdcTail(s, s"$tmp/in")
          .select(col("_id").cast("long").as("doc_id"), col("text"),
            lit(1).as("k"))
          .join(broadcast(weights), Seq("k")))
      runToMemory(s, scored, "append")
        .orderBy(col("doc_id"))
    }
  }

  /** q8v: continuous Kneser-Ney perplexity filtering — qb1's streaming
    * twin and the CCNet production serve shape: the smoothed bigram LM
    * trains on the historical corpus, folds to FROZEN lookup tables
    * (seen-bigram probabilities + backoff weights + continuation
    * weights + the two perplexity-tercile cutoffs FROZEN from the
    * training slice's own scores), and every CDC-arriving document
    * scores and classifies per micro-batch via three broadcast-hash
    * probes over its bigrams plus a batch-local per-doc fold — zero
    * state rows; each batch's classified docs land in a batch-keyed
    * file (overwrite → replay-idempotent, the [[Generations]] replay rule). The
    * table values are the exact doubles the batch path computes and the
    * per-doc sum is over exact DECIMAL(30,12) addends, so serve
    * arithmetic reproduces qb1's scoring bit-for-bit (the earlier
    * 1-row-map form paid a LINEAR element_at scan per probe — ~5 s of
    * the serve — where the hash join probes O(1); `KnServeSpec` pins
    * the two scorers frame-identical). The frozen-cutoff classification
    * is what distinguishes a SERVE (train-time terciles) from qb1's
    * batch terciles over the whole corpus. */
  def docStreamKnPerplexity(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_kn_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val (pT0, lT0, cT0, cuts0) = graft.queries.TextAnalysis
      .knModelTables(docs.filter(col("doc_id") < 250))
    val scored = Generations(s, tmp, "scored")
    withFrozenModels(Seq(pT0, lT0, cT0, cuts0)) { ms =>
      val Seq(pT, lT, cT, cuts) = ms
      drainBatches(s, "kn_serve", cdcTail(s, s"$tmp/in")
          .select(col("_id").cast("long").as("doc_id"), col("text"))) {
        (batch, v) =>
          scored.write(v, graft.queries.TextAnalysis
            .knScoreBatch(batch, pT, lT, cT, cuts))
      }
    }
    scored.parts
      .orderBy(col("doc_id"))
  }

  /** q8w: streaming Pareto-frontier screening — qaz's serve half on the
    * frozen-model template (q8v's cutoffs, qaa's frozen-cap contract,
    * applied to a FRONTIER): the 2-D skyline computes batch-side over
    * the standing customers (StableIds machinery, qaz) and folds to one
    * broadcast row (a sorted array of frontier points — the frontier is
    * tiny by construction); each CDC-arriving customer joins its static
    * spend aggregate (stream-static, stateless) and takes a row-local
    * dominance verdict via one exists() HOF over the frozen array.
    * An undominated arrival is flagged pareto_new = the event that
    * triggers a frontier refresh in production — the between-refreshes
    * contract this pipeline serves. Zero state rows, append. */
  def docStreamSkyline(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_sky_stream")
    val pts = graft.queries.Windows.custPoints(s, sfDir)
    val incoming = pts.filter(pmod(col("c_custkey"), lit(4)) === 0)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("c_custkey"), lit(8)) === 0)
        .select(col("c_custkey"), col("bal")), "c_custkey", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("c_custkey"), lit(8)) =!= 0)
        .select(col("c_custkey"), col("bal")), "c_custkey", s"$tmp/in")
    val frontier = graft.queries.Windows
      .skylineFlags(pts.filter(pmod(col("c_custkey"), lit(4)) =!= 0))
      .filter(col("sky") === 1)
      .agg(sort_array(collect_list(struct(col("spend"), col("bal"))))
        .as("front"))
      .withColumn("k", lit(1))
    val spend = pts.select(col("c_custkey"), col("spend"))
    val flagged = cdcTail(s, s"$tmp/in")
      .select(col("_id").cast("long").as("c_custkey"), col("bal"),
        lit(1).as("k"))
      .join(spend, Seq("c_custkey")) // stream-static, stateless
      .join(broadcast(frontier), Seq("k"))
      .select(col("c_custkey"), col("spend").as("spend_cents"),
        col("bal").as("bal_cents"),
        expr("""CAST(exists(front, f ->
               f.spend >= spend AND f.bal >= bal
               AND (f.spend > spend OR f.bal > bal)) AS INT)""")
          .as("dominated"))
      .withColumn("pareto_new",
        (lit(1) - col("dominated")).cast("int"))
    runToMemory(s, flagged, "append")
      .orderBy(col("c_custkey"))
  }

  /** q8m: streaming heavy hitters — a running token-frequency table over
    * the document ingest stream, COMPLETE output mode: the stateful agg
    * re-emits the full standings each micro-batch (the live "top terms"
    * dashboard shape), so the final drain IS the corpus-total count table
    * and must equal batch counting exactly. The only complete-mode
    * pipeline in the suite — every other stateful query is append
    * (watermark-evicted), and the modes fail differently: complete keeps
    * ALL keys in the state store forever, which is exactly right for a
    * bounded vocabulary and exactly wrong for an unbounded one — at
    * open-vocabulary 100 TB scale the state-bounded answer is the
    * sketched twin (q8i HLL maintenance / q0d CMS), not a bigger store.
    * Two commits drain as two micro-batches, so the second batch's
    * output proves state carried over, not a one-shot agg. */
  def docStreamHeavyHitters(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_hh_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.connector.GraftDoc.write(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val counts = cdcTail(s, s"$tmp/in")
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
    runToMemory(s, counts, "complete")
      .orderBy(col("n").desc, col("term")).limit(20)
  }

  /** Stream-stream interval join: purchases matched to same-user clicks in
    * the preceding hour. Both sides watermarked; the time-range condition
    * bounds join state to one hour per key — the canonical watermarked
    * stream-stream join. Drained result equals the batch interval join. */
  def streamStreamJoin(s: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsStream(s, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    runToMemory(s, joined, "append")
      .select(col("purchase_id"), col("click_id"))
      .orderBy(col("purchase_id"), col("click_id"))
  }

  /** Stream-stream LEFT OUTER interval join: purchases keep a row even
    * when no same-user click precedes them within the hour — the
    * null-padded result can only emit once the watermark proves no
    * matching click can still arrive, which is the semantics that
    * distinguishes outer from inner stream joins. Determinism contract:
    * outer results for rows near the end of input never flush (the
    * watermark stops at max event time − delay), so the drained result is
    * bounded to purchases at least 4 h before the corpus end. The bound
    * must be a BATCH post-filter on the drained output: filtering the
    * purchase stream before the join is self-defeating — it lowers that
    * stream's own watermark, which drags the global watermark (the min of
    * both sides) down with it and un-flushes the rows just inside the new
    * horizon. The global watermark is the MIN over both branches of (that
    * branch's max event time − 2 h delay) — at sparse scale factors the
    * click stream can end hours before the purchase stream, so the
    * horizon must anchor to `least(max click ts, max purchase ts)`, not
    * the global max (measured at sf0.001: null rows flush up to the
    * min-side watermark exactly; anchoring to the global max missed a
    * purchase 3.6 h below it). The −3 h = 2 h delay + 1 h flush margin. */
  def streamStreamOuterJoin(s: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsStream(s, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "2 hours")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
    val horizon = graft.sources.Tables.normalizeEvents(
        s.read.parquet(s"$sfDir/events.parquet"))
      .withColumn("tsx", col("ts"))
      .agg((least(
        max(when(col("event_type") === "click", col("tsx"))),
        max(when(col("event_type") === "purchase", col("tsx"))))
        - expr("INTERVAL 3 HOURS")).as("h_end"))
    runToMemory(s, joined.select(col("purchase_id"), col("click_id"), col("p_ts")),
        "append")
      .crossJoin(broadcast(horizon))
      .filter(col("p_ts") < col("h_end"))
      .select(col("purchase_id"), col("click_id"))
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  /** Per-user totals through Spark 4's transformWithState — the
    * successor API to flatMapGroupsWithState (typed ValueState handles,
    * explicit timers, TTL support, RocksDB-backed). Same contract as
    * [[statefulUserTotals]] and the SAME oracle: accumulate per key,
    * re-arm an event-time timer to watermark+1 each batch, emit exactly
    * once when the watermark passes the key's last activity. */
  def statefulUserTotalsTws(s: SparkSession, sfDir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val ev = eventsStream(s, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as[Long], col("value").as[Double],
        col("ts").as[java.sql.Timestamp])
    val finals = ev.groupByKey(_._1)
      .transformWithState(new UserTotalsProcessor(),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "n_events", "max_value")
    // transformWithState requires the RocksDB state store provider
    val out = withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      runToMemory(s, finals, "append")
    }
    // combine per-key partial flushes exactly as in [[statefulUserTotals]]
    out.groupBy(col("user_id"))
      .agg(sum(col("n_events")).as("n_events"),
        round(max(col("max_value")), 2).as("max_value"))
      .orderBy(col("user_id"))
  }

  private def withConf[T](s: SparkSession, key: String, value: String)(f: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try f
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** The reference pair closed over our own connector in BOTH roles:
    * events land in a `graft-doc` table across three batch commits
    * (disjoint id ranges), then `readStream.format("graft-doc")` tails
    * the commit log as a CDC source — one commit per micro-batch
    * (`maxCommitsPerTrigger=1`), offsets checkpointed by commit seq —
    * and the drained version rows are rolled up in batch. Stateless
    * stream (append mode, no aggregation in-flight), so the drain is
    * exactly the log contents, exactly once. */
  def docCdcSource(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_doc_cdc")
    val ev = s.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    (0 until 3).foreach { r =>
      graft.connector.GraftDoc.write(
        ev.filter(pmod(col("event_id"), lit(3)) === r), "event_id", s"$tmp/tbl")
    }
    val cdc = cdcTail(s, s"$tmp/tbl")
      .select(col("event_type"))
    runToMemory(s, cdc, "append")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }

  /** CDC feed composed with event-time semantics: the graft-doc table
    * carries (event_id, ts, event_type) across three commits; the CDC
    * stream tails it one commit per micro-batch, so the WATERMARK
    * advances across multiple real micro-batches (unlike the one-shot
    * file drains) while the tumbling-window aggregation emits each
    * window once in append mode. Proves the connector source supports
    * the full streaming-semantics stack, not just stateless relay. */
  def docCdcWindowed(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_doc_cdcw")
    val ev = graft.sources.Tables.normalizeEvents(
        s.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("ts"), col("event_type"))
    // commits split by TIME (day-of-month tertiles), the realistic CDC
    // layout: commit order correlates with event time, so the watermark
    // advances progressively across micro-batches instead of jumping to
    // the end after batch one and declaring later commits late
    Seq(col("d") <= 10, col("d").between(11, 20), col("d") > 20).foreach { p =>
      graft.connector.GraftDoc.write(
        ev.withColumn("d", dayofmonth(col("ts"))).filter(p).drop("d"),
        "event_id", s"$tmp/tbl")
    }
    val agg = cdcTail(s, s"$tmp/tbl")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    runToMemory(s, agg, "append")
      .crossJoin(broadcast(horizonEnd(s, sfDir, "2 HOURS")))
      .filter(col("window.end") < col("h_end"))
      .select(
        dayofmonth(col("window.start")).as("d"),
        hour(col("window.start")).as("h"),
        col("event_type"), col("n"))
      .orderBy(col("d"), col("h"), col("event_type"))
  }

  /** Deletes as FIRST-CLASS CDC events: the graft-doc table takes two
    * insert commits and one tombstone commit (`GraftDoc.delete`), then the
    * CDC stream tails it with `withOp = true` — every row carries an `_op`
    * change-type column (`insert` | `delete`) decoded from the commit dir
    * name, so a downstream consumer (a mirror, an index, a cache) applies
    * deletes without cross-referencing the table's tombstone state. One
    * commit per micro-batch; the per-op rollup is a batch aggregation over
    * the drained log and must match the batch-derived write/delete
    * history exactly. */
  def docCdcOps(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_doc_cdco")
    val ev = s.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("event_type"), col("user_id"))
    (0 until 2).foreach { r =>
      graft.connector.GraftDoc.write(
        ev.filter(pmod(col("event_id"), lit(2)) === r), "event_id", s"$tmp/tbl")
    }
    // deterministic delete set: every 10th event id
    graft.connector.GraftDoc.delete(s, s"$tmp/tbl",
      ev.filter(pmod(col("event_id"), lit(10)) === 0).select(col("event_id")))
    val cdc = cdcTail(s, s"$tmp/tbl", withOp = true)
      .select(col("_op").as("op"), col("_id"))
    runToMemory(s, cdc, "append")
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"), count_distinct(col("_id")).as("n_ids"))
      .orderBy(col("op"))
  }

  /** CONTINUOUS incremental near-dup clustering (q8f) — the streaming
    * closure of the q6a/q6k family: near-dup pair edges arrive through a
    * CDC tail (a graft-doc edge table written in two commits), and every
    * micro-batch folds its edges into the persisted (node, component)
    * label table with [[graft.operators.ConnectedComponents.incremental]]
    * — O(|batch|) reduced-graph CC + one broadcast relabel per batch,
    * never a corpus re-run. Label versions are immutable batch-id-keyed
    * files, so a replayed batch rewrites the SAME next version rather
    * than corrupting the current one ([[drainBatches]]).
    *
    * The pair stream is the corpus's Jaccard pair graph split by arrival
    * (the q6k rule: both-old endpoints = standing graph, any-new = the
    * CDC delta, two commits). The final drained label table must equal
    * from-scratch CC over the whole pair graph — the oracle. */
  def docStreamIncrementalClusters(s: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.ConnectedComponents
    val tmp = graft.TempDirs.create("graft_doc_cc_stream")
    val pairs = graft.queries.DedupQueries.jaccardPairEdges(s, sfDir)
      .localCheckpoint()
    def isNew(c: Column) = pmod(c, lit(10)) === 0
    val standing = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
    val delta = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
    // standing labels: batch CC, persisted as version 0
    val labels = Generations(s, tmp, "labels")
    ConnectedComponents.run(standing)
      .write.mode("overwrite").parquet(labels.in(0))
    // the CDC edge table: delta edges land in TWO commits (ids are < 1e6
    // at every test SF, so the packed edge key is collision-free)
    val keyed = delta.select(
      (col("id_a") * 1000000L + col("id_b")).as("edge_key"),
      col("id_a"), col("id_b"))
    graft.connector.GraftDoc.write(
      keyed.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 0),
      "edge_key", s"$tmp/edges")
    graft.connector.GraftDoc.write(
      keyed.filter(pmod(col("id_a") + col("id_b"), lit(2)) === 1),
      "edge_key", s"$tmp/edges")
    val last = drainBatches(s, "cc_incr",
        cdcTail(s, s"$tmp/edges").select(col("id_a"), col("id_b"))) {
      (batch, v) => labels.step(v)(ConnectedComponents.incremental(_, batch))
    }
    labels.after(last)
      .select(col("node").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Streaming MinHash index MAINTENANCE (q8r) — qa8's merge as the
    * standing process it exists to be: ingested batches arrive through
    * the CDC tail in two commits, and each micro-batch folds into the
    * persisted snapshot index as a NEW GENERATION via foreachBatch
    * ([[graft.queries.DedupQueries.mergeMinhashIndex]]: narrow DF
    * full-outer, row-local set fix, changed-rows-only re-sign — never a
    * snapshot re-shingle). After the drain, a probe batch serves
    * through the FINAL generation; the oracle is the full REBUILD
    * measure over snapshot ∪ all batches, so hash equality proves the
    * batch-at-a-time generation chain converged to exactly the
    * re-indexed state (the associativity
    * `IncrementalMinhashPropSpec` pins frame-by-frame, here reached
    * through a real streaming execution). The q8f labels-maintenance
    * pattern, applied to a similarity index. */
  def docStreamIndexMaintenance(s: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.DedupQueries
    val tmp = graft.TempDirs.create("graft_mh_maint")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val idx = Generations(s, tmp, "idx")
    DedupQueries.buildMinhashIndex(
      s, docs.filter(col("doc_id") < 250), idx.in(0))
    // ingested batches: docs 250-374 land in two commits
    val incoming = docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    // a double fold would corrupt the DF drop-list cut, so the index
    // generations are keyed by batch id (see Generations)
    val last = drainBatches(s, "mh_maint", cdcTail(s, s"$tmp/in")
        .select(col("_id").cast("long").as("doc_id"), col("text"))) {
      (batch, v) => DedupQueries.mergeMinhashIndex(s, batch, idx.in(v), idx.out(v))
    }
    DedupQueries.serveMinhashBatch(s,
      docs.filter(col("doc_id") >= 375), idx.out(last))
  }

  /** q8x: streaming suffix-structure maintenance — qau's rank table as
    * the standing index the Lee-et-al dedup actually needs (continuous
    * ingest, not a batch artifact). The delta form rides the key
    * equivalence [[graft.operators.SuffixRanks.suffixKeys]] proves:
    * rank_Rounds ≡ dense rank of each suffix's 16-char prefix, and that
    * prefix is ROW-LOCAL to the document — so an arriving batch
    * contributes (doc_id, pos, key) rows from its own text alone, and
    * the per-batch merge renumbers only the KEY DICTIONARY (distinct
    * 16-grams, ≪ corpus positions), never re-running a doubling round
    * over old positions. Generations are batch-id-keyed files (the
    * [[Generations]] replay rule). After the drain, positions serve through
    * the FINAL dictionary; the oracle replays qau's doubling rounds
    * over the FULL corpus — hash equality proves the streaming
    * key-merge converged bit-exactly to the prefix-doubling structure. */
  def docStreamSuffixMerge(s: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.SuffixRanks
    val tmp = graft.TempDirs.create("graft_sfx_stream")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (posG, dictG) = (Generations(s, tmp, "pos"), Generations(s, tmp, "dict"))
    SuffixRanks.suffixKeys(docs.filter(col("doc_id") < 250))
      .write.mode("overwrite").parquet(posG.in(0))
    SuffixRanks.rankDict(posG.read(0))
      .write.mode("overwrite").parquet(dictG.in(0))
    val incoming = docs.filter(col("doc_id") >= 250)
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    val last = drainBatches(s, "sfx_merge", cdcTail(s, s"$tmp/in")
        .select(col("_id").cast("long").as("doc_id"), col("text"))) {
      (batch, v) =>
        posG.write(v, SuffixRanks.suffixKeys(batch))
        dictG.step(v)(old => SuffixRanks.rankDict(old.select(col("key"))
          .unionByName(posG.after(v).select(col("key")))))
    }
    val pos = posG.parts
    val dict = dictG.after(last)
    // group sizes from ONE partial-aggregated pass over the narrow key
    // column (this pipeline maintains no counts table — qb8/qc5 do);
    // the corpus frame is then only touched by the sample filter
    // (SuffixRanks.auditServe — the counts-invariant serve tail)
    SuffixRanks.auditServe(pos, dict,
      pos.groupBy(col("key")).agg(count(lit(1)).as("n")))
  }

  /** qc6: streaming IVF index MAINTENANCE — q5m's update verb on the
    * ingest stream (the q8r/q8x maintenance pattern applied to the IVF
    * family, whose streaming story so far was serve-only, q8g): the
    * standing index (centroids + 90% base memberships) persists once;
    * new VECTORS then arrive as a CDC stream (two commits) and every
    * micro-batch assigns ONLY its own rows against the persisted
    * centroids — one broadcast join per batch, O(|batch|·k), the
    * standing memberships never touched — appending a batch-id-keyed
    * membership generation (overwrite → replay-idempotent, the
    * [[Generations]] replay rule). After the drain the q66 probe serves over base
    * ∪ appended generations. Shares q5m's oracle verbatim (path-
    * parameterized): the oracle re-derives the delta assignment from
    * the raw table, so the drained per-batch update must land exactly
    * where the one-shot batch update lands. */
  def docStreamIvfUpdate(s: SparkSession, sfDir: String,
      indexPath: String): DataFrame = {
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_ivf_update_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val existing = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
    // BUILD: q5m's order — centroids persist first (adaptive k from the
    // FULL corpus), base memberships assigned against the read-back
    // frame
    SimilarityQueries.centroids(e).write.mode("overwrite")
      .parquet(s"$indexPath/cent")
    val ic = s.read.parquet(s"$indexPath/cent")
    SimilarityQueries.assignTo(existing, ic).write.mode("overwrite")
      .parquet(s"$indexPath/assign_base")
    // the delta VECTORS arrive via CDC, two commits
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 0), "vec_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 10), "vec_id", s"$tmp/in")
    val assign = Generations(s, tmp, "assign")
    drainBatches(s, "ivf_update", cdcTail(s, s"$tmp/in")
        .select(col("_id").cast("long").as("vec_id"), col("embedding"))) {
      // one broadcast join per batch against the persisted centroids
      (batch, v) => assign.write(v, SimilarityQueries.assignTo(batch, ic))
    }
    val ia = s.read.parquet(s"$indexPath/assign_base")
      .unionByName(assign.parts)
    SimilarityQueries.ivfServe(e, ic, ia)
  }

  /** qc8: streaming graph-ANN index MAINTENANCE — the last index family
    * to get the verb (IVF qc6, PQ qc7, MinHash q8r, suffix q8x): new
    * vectors arrive as CDC commits and every micro-batch folds
    * [[graft.operators.NnDescent.insertDeltaOf]] against the PREVIOUS
    * generation's graph — seed beams + back-edge re-top-K + one local
    * refinement round, all N-independent per inserted node — writing a
    * batch-id-keyed full-graph generation (a replayed batch re-reads
    * the untouched generation v and overwrites generation v+1:
    * idempotent, the [[Generations]] replay rule; generation 0 is the
    * base graph at `graphPath`, read in place). Unlike qc6/qc7,
    * sequential insert folds are NOT union-equivalent (gen 2's beams
    * WALK the lists gen 1 re-top-K'd), so the oracle unrolls BOTH
    * generations in SQL against
    * the persisted base graph — gen 2 replays against gen 1's
    * SQL-derived output, never the pipeline's persisted intermediate,
    * so a wrong batch-1 fold cannot hide behind persistence
    * ([[graft.operators.NnDescent.streamInsertOracleSql]]). Output:
    * every SAMPLED new node's served top-K from the FINAL graph with
    * exact flags over the full corpus (qb3's reporting shape — gen-1
    * nodes' lists may have been re-top-K'd by gen 2's back-edges, and
    * reading the final graph certifies exactly that interaction). */
  def docStreamGraphInsert(s: SparkSession, sfDir: String,
      graphPath: String): DataFrame = {
    import graft.operators.NnDescent
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_graph_insert_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nn = e.count()
    val nBase = nn - nn / 16
    NnDescent.knnGraph(e.filter(col("vec_id") < nBase))
      .write.mode("overwrite").parquet(graphPath)
    val delta = e.filter(col("vec_id") >= nBase)
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", s"$tmp/in")
    val g = Generations(s, tmp, "g", base = Some(graphPath))
    val last = drainBatches(s, "graph_insert", cdcTail(s, s"$tmp/in")
        .select(col("_id").cast("long").as("vec_id"), col("embedding"))) {
      (batch, v) => g.step(v)(NnDescent.insertDeltaOf(e, _, nBase,
        batch.select(col("vec_id"), col("embedding"))))
    }
    // qb3's sampled reporting shape, from the FINAL generation
    val qS = e.filter(col("vec_id") >= nBase &&
      pmod(col("vec_id"), lit(NnDescent.FlagSampleMod)) === 0)
    NnDescent.reportTopK(
      g.after(last).join(qS.select(col("vec_id")), Seq("vec_id"), "left_semi"),
      SimilarityQueries.exactTopKOf(e, NnDescent.ReportK, qS))
  }

  /** qc7: streaming PQ index MAINTENANCE — the qc6 verb carried to the
    * PQ family (every index family now has BOTH streaming serve and
    * streaming maintenance: IVF q8g/qc6, MinHash q8q/q8r, suffix
    * q8x/qc5, PQ q8z/here, graph q8y/qc8): the codebook and the base
    * codes persist
    * once; new VECTORS then arrive as CDC commits and every micro-batch
    * encodes ONLY its own rows against the persisted codebook — one
    * broadcast join per batch, O(|batch|·128), 8 bytes appended per
    * vector as a batch-keyed generation — then q5s's ADC probe serves
    * over base ∪ generations. Because the codebook is the id-prefix
    * seed frame (stable under the delta split) and the encode is a
    * pure per-row argmin against it, the drained union must equal the
    * one-shot whole-corpus encode: qc7 shares q5s's oracle VERBATIM
    * (the third consumer of that exact text, after q5s and q8z — the
    * machine-checked equivalence ladder batch ≡ streamed-serve ≡
    * streamed-maintenance). */
  def docStreamPqUpdate(s: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_pq_update_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val existing = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
    // BUILD: codebook from the full corpus's id-prefix seeds, persisted
    // BEFORE the stream (a seed id can also be a delta member — vec_id
    // 10 is both — which is fine: its role as a seed is frozen in the
    // persisted codebook, while its CODE arrives through the stream
    // like any other delta row); base codes encoded against the
    // read-back codebook
    SimilarityQueries.pqCodebook(SimilarityQueries.pqSub(e))
      .write.mode("overwrite").parquet(s"$tmp/cb")
    val icb = s.read.parquet(s"$tmp/cb")
    SimilarityQueries.pqCodes(SimilarityQueries.pqSub(existing), icb)
      .write.mode("overwrite").parquet(s"$tmp/base_codes")
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 0), "vec_id", s"$tmp/in")
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 10), "vec_id", s"$tmp/in")
    val codesG = Generations(s, tmp, "codes")
    drainBatches(s, "pq_update", cdcTail(s, s"$tmp/in")
        .select(col("_id").cast("long").as("vec_id"), col("embedding"))) {
      // per-batch argmin encode against the persisted codebook
      (batch, v) => codesG.write(v,
        SimilarityQueries.pqCodes(SimilarityQueries.pqSub(batch), icb))
    }
    val codes = s.read.parquet(s"$tmp/base_codes")
      .unionByName(codesG.parts)
    val qf = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    SimilarityQueries.pqServeFor(qf, codes, icb)
      .orderBy(col("qid"), col("rnk"))
  }

  /** qc9: streaming IVF index maintenance under DELETES — the inverse
    * verb of qc6, completing the round-14 symmetry gap (IVF/PQ/graph
    * streaming maintenance handled inserts only; a right-to-be-forgotten
    * delete arriving ON the stream had batch answers — q6w, qc1, qb4 —
    * but no per-batch fold). The standing index (centroids + 90% base
    * memberships) persists once; the CDC tail then delivers THREE
    * commits — delta inserts (%20==0), a compliance DELETE sweep hitting
    * base ids AND the already-streamed delta ids
    * ([[graft.queries.SimilarityQueries.streamDeadCol]]), delta inserts
    * (%20==10) — and every micro-batch folds BOTH verbs: inserts assign
    * against the persisted centroids (one broadcast join, O(|batch|·k),
    * the qc6 fold), deletes append to a VERSIONED tombstone generation
    * (tomb_v<B+1> = tomb_v<B> ∪ batch — O(|batch|) rows, memberships
    * untouched, replay-idempotent by layout). The serve anti-joins the
    * final tombstone set out of base ∪ appended generations at query
    * time ([[graft.operators.Tombstones]] — broadcast to the cap,
    * sharded past it) and excludes deleted ids as queries; membership
    * rebuild stays deferred to compaction (qb6's verb). Oracle = q5m's
    * replay parameterized by the live predicate
    * ([[graft.queries.SimilarityQueries.ivfUpdateOracleSqlFor]]): the
    * drained insert+delete fold must be indistinguishable from the
    * one-shot batch update over the live corpus. */
  def docStreamIvfRetraction(s: SparkSession, sfDir: String,
      indexPath: String): DataFrame = {
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_ivf_del_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val existing = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
    // BUILD: q5m/qc6's order — centroids persist first (adaptive k from
    // the FULL corpus), base memberships assigned against the read-back
    // frame
    SimilarityQueries.centroids(e).write.mode("overwrite")
      .parquet(s"$indexPath/cent")
    val ic = s.read.parquet(s"$indexPath/cent")
    SimilarityQueries.assignTo(existing, ic).write.mode("overwrite")
      .parquet(s"$indexPath/assign_base")
    // the CDC tail: insert / delete sweep / insert
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 0), "vec_id", s"$tmp/in")
    graft.connector.GraftDoc.delete(s, s"$tmp/in",
      e.filter(SimilarityQueries.streamDeadCol(col("vec_id")))
        .select(col("vec_id")))
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 10), "vec_id", s"$tmp/in")
    // v0 tombstone state: empty
    val (assign, tombG) = (Generations(s, tmp, "assign"), Generations(s, tmp, "tomb"))
    tombG.seed("vec_id long")
    val last = drainBatches(s, "ivf_del", cdcTail(s, s"$tmp/in", withOp = true)) {
      (batch, v) =>
        val (ins, del) = splitOps(batch, "vec_id", "embedding")
        // inserts: one broadcast join against the persisted centroids
        assign.write(v, SimilarityQueries.assignTo(ins, ic))
        // deletes: versioned tombstone fold, O(|batch|) rows
        tombG.tombstone(v, del)
    }
    val tomb = tombG.after(last)
    val nT = Some(tomb.count())
    val ia = graft.operators.Tombstones.antiJoin(
      s.read.parquet(s"$indexPath/assign_base")
        .unionByName(assign.parts),
      "vec_id", tomb, nT)
    val q = graft.operators.Tombstones.antiJoin(
        e.filter(col("vec_id") < 10), "vec_id", tomb, nT)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    SimilarityQueries.ivfServeFor(q, e, ic, ia)
  }

  /** qd0: streaming PQ index maintenance under DELETES — qc9's verb,
    * PQ edition (with qd1 this closes the maintenance symmetry: every
    * index family folds BOTH CDC verbs per micro-batch, batch AND
    * streamed). Codebook + base codes persist once; the same
    * insert / delete-sweep / insert CDC tail then folds per batch:
    * inserts argmin-encode against the persisted codebook (8 bytes
    * appended per vector — the qc7 fold), deletes append to versioned
    * tombstone generations. The sweep hits base ids AND the first
    * commit's already-encoded delta ids, so the serve-time anti join
    * retracts rows from BOTH the offline codes and a streamed
    * generation; codebook retrain stays deferred to compaction (qc2's
    * verb). Oracle = q5s's replay with the live predicate on candidates
    * and queries — the SIXTH consumer of the pqAdc spec text (q5s, q8z,
    * qc1, qc2, qc7, here): one oracle IS the equivalence ladder
    * batch ≡ streamed-serve ≡ streamed-insert ≡ streamed-delete. */
  def docStreamPqRetraction(s: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_pq_del_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val existing = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
    // BUILD: codebook from the full corpus's id-prefix seeds (stable
    // under the delta split — the qc7 rule), base codes against the
    // read-back codebook
    SimilarityQueries.pqCodebook(SimilarityQueries.pqSub(e))
      .write.mode("overwrite").parquet(s"$tmp/cb")
    val icb = s.read.parquet(s"$tmp/cb")
    SimilarityQueries.pqCodes(SimilarityQueries.pqSub(existing), icb)
      .write.mode("overwrite").parquet(s"$tmp/base_codes")
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 0), "vec_id", s"$tmp/in")
    graft.connector.GraftDoc.delete(s, s"$tmp/in",
      e.filter(SimilarityQueries.streamDeadCol(col("vec_id")))
        .select(col("vec_id")))
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(20)) === 10), "vec_id", s"$tmp/in")
    val (codesG, tombG) = (Generations(s, tmp, "codes"), Generations(s, tmp, "tomb"))
    tombG.seed("vec_id long")
    val last = drainBatches(s, "pq_del", cdcTail(s, s"$tmp/in", withOp = true)) {
      (batch, v) =>
        val (ins, del) = splitOps(batch, "vec_id", "embedding")
        codesG.write(v,
          SimilarityQueries.pqCodes(SimilarityQueries.pqSub(ins), icb))
        tombG.tombstone(v, del)
    }
    val tomb = tombG.after(last)
    val nT = Some(tomb.count())
    val codes = graft.operators.Tombstones.antiJoin(
      s.read.parquet(s"$tmp/base_codes")
        .unionByName(codesG.parts),
      "vec_id", tomb, nT)
    val qf = graft.operators.Tombstones.antiJoin(
        e.filter(col("vec_id") < 10), "vec_id", tomb, nT)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    SimilarityQueries.pqServeFor(qf, codes, icb)
      .orderBy(col("qid"), col("rnk"))
  }

  /** qd1: streaming graph-ANN maintenance under DELETES — the hard case
    * of the three (qc9/qd0 retractions are anti joins; a graph delete
    * leaves HOLES in surviving lists that need local repair): the full
    * NN-Descent graph persists once; the qb4 tombstone rule (%16==3)
    * then arrives as TWO CDC delete sweeps (%32==3, then %32==19), and
    * every micro-batch folds
    * [[graft.operators.NnDescent.deleteRepairOf]] — drop the batch's
    * tombstoned lists, repair only the survivors that lost an edge,
    * candidates from the dead nodes' former out-lists in the PREVIOUS
    * generation's graph (FreshDiskANN's rule, ≤K² per affected node,
    * N-independent) — writing batch-keyed full-graph generations (a
    * replayed batch re-reads the untouched generation v and
    * overwrites generation v+1: idempotent, the qc8 rule). Sequential
    * repairs are NOT one-shot-equivalent (gen 1 may patch a hole with a
    * node gen 2 then deletes), so the oracle unrolls BOTH generations
    * against the persisted base graph, gen 2 replaying over gen 1's
    * SQL-DERIVED output
    * ([[graft.operators.NnDescent.streamDeleteOracleSql]]). Output:
    * every SAMPLED touched SURVIVOR's served top-K from the FINAL graph
    * with exact flags over the surviving corpus (qb4's shape —
    * touched-then-deleted nodes drop out: a deleted user gets no
    * serve). */
  def docStreamGraphRetraction(s: SparkSession, sfDir: String,
      graphPath: String): DataFrame = {
    import graft.operators.NnDescent
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_graph_del_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    NnDescent.knnGraph(e).write.mode("overwrite").parquet(graphPath)
    // keyed doc store over the corpus (the q6w flow); the two
    // compliance sweeps land as tombstone commits and the CDC tail
    // replays snapshot + sweeps one micro-batch each
    graft.connector.GraftDoc.write(
      s.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("label")), "vec_id", s"$tmp/tbl")
    graft.connector.GraftDoc.delete(s, s"$tmp/tbl",
      e.filter(pmod(col("vec_id"), lit(NnDescent.DeleteMod * 2))
          === NnDescent.DeleteRes)
        .select(col("vec_id")))
    graft.connector.GraftDoc.delete(s, s"$tmp/tbl",
      e.filter(pmod(col("vec_id"), lit(NnDescent.DeleteMod * 2))
          === NnDescent.StreamDeleteRes2)
        .select(col("vec_id")))
    val g = Generations(s, tmp, "g", base = Some(graphPath))
    val (tch, tomb) = (Generations(s, tmp, "tch"), Generations(s, tmp, "tomb"))
    tomb.seed("vec_id long")
    val last = drainBatches(s, "graph_del", cdcTail(s, s"$tmp/tbl", withOp = true)) {
      (batch, v) =>
        val (_, del) = splitOps(batch, "vec_id")
        val prev = g.read(v)
        // the batch's affected survivors, recorded BEFORE the repair (the
        // reporting set — repair work touches exactly these lists); the
        // snapshot batch's set is empty
        tch.write(v, prev.join(broadcast(del), Seq("vec_id"), "left_anti")
          .join(broadcast(del.select(col("vec_id").as("nid"))),
            Seq("nid"), "left_semi")
          .select(col("vec_id")).distinct())
        g.write(v, NnDescent.deleteRepairOf(e, prev, del))
        tomb.tombstone(v, del)
    }
    val g2 = g.after(last)
    // sampled touched SURVIVORS: a gen-1-touched node deleted by gen 2
    // gets no serve (anti join against the final tombstone set)
    val tchAll = tch.parts
      .join(tomb.after(last), Seq("vec_id"), "left_anti")
      .filter(pmod(col("vec_id"), lit(NnDescent.FlagSampleMod)) === 0)
      .distinct()
    val surE = e.filter(pmod(col("vec_id"), lit(NnDescent.DeleteMod))
      =!= NnDescent.DeleteRes)
    NnDescent.reportTopK(g2.join(tchAll, Seq("vec_id"), "left_semi"),
      SimilarityQueries.exactTopKOf(surE, NnDescent.ReportK, tchAll))
  }

  /** qd4: the FULL CDC lifecycle for the graph index on ONE stream —
    * the capstone the verb symmetry now points at (qc8 folds inserts
    * only, qd1 deletes only; qc9/qd0 already interleave both for
    * IVF/PQ, whose retractions are anti joins — the graph's two verbs
    * are a structural merge AND a structural repair, so their
    * interleave is the hard case): the CDC tail delivers insert
    * (even delta half) → compliance DELETE sweep (%16==3 base ids) →
    * insert (odd delta half), and every micro-batch folds the verb it
    * carries against the PREVIOUS generation's graph —
    * [[graft.operators.NnDescent.insertDeltaOf]] for inserts (gen 3
    * with TOMBSTONE-AWARE probes: the raw-id-algebra probe set is the
    * one candidate source the repaired graph's stored edges don't
    * already launder, and without the filter a probed dead id re-enters
    * fresh lists), [[graft.operators.NnDescent.deleteRepairOf]] for
    * deletes — writing batch-keyed full-graph generations plus the
    * qd1-style versioned tombstone state the gen-3 probe filter reads.
    * Sequential folds are NOT reorderable (gen 2 repairs lists gen 1
    * merged; gen 3 walks lists gen 2 repaired), so the oracle unrolls
    * all THREE generations against the persisted base graph, each
    * replaying over the previous generation's SQL-DERIVED output
    * ([[graft.operators.NnDescent.lifecycleOracleSql]]). Output: every
    * SAMPLED (delta ∪ repair-touched survivor) node's top-K from the
    * FINAL graph with exact flags over the LIVE corpus. */
  def docStreamGraphLifecycle(s: SparkSession, sfDir: String,
      graphPath: String): DataFrame = {
    import graft.operators.NnDescent
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_graph_cdc_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val nn = e.count()
    val nBase = nn - nn / 16
    NnDescent.knnGraph(e.filter(col("vec_id") < nBase))
      .write.mode("overwrite").parquet(graphPath)
    val delta = e.filter(col("vec_id") >= nBase)
    val dead = pmod(col("vec_id"), lit(NnDescent.DeleteMod)) ===
      NnDescent.DeleteRes && col("vec_id") < nBase
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", s"$tmp/in")
    graft.connector.GraftDoc.delete(s, s"$tmp/in",
      e.filter(dead).select(col("vec_id")))
    graft.connector.GraftDoc.write(
      delta.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", s"$tmp/in")
    val g = Generations(s, tmp, "g", base = Some(graphPath))
    val (tch, tomb) = (Generations(s, tmp, "tch"), Generations(s, tmp, "tomb"))
    tomb.seed("vec_id long")
    // running tombstone cardinality, threaded into the folds so the
    // Tombstones joins never pay a fallback count() action (v0 is the
    // known-empty frame; each batch adds its own delete count — one
    // cheap action on the in-batch frame replacing two frame counts)
    val tombTotal = new java.util.concurrent.atomic.AtomicLong(0L)
    val last = drainBatches(s, "graph_cdc", cdcTail(s, s"$tmp/in", withOp = true)) {
      (batch, v) =>
        val (ins, del) = splitOps(batch, "vec_id", "embedding")
        val prev = g.read(v)
        val prevTomb = tomb.read(v)
        // one verb per commit here, but the fold composes both for
        // generality (inserts before deletes — the qc0 order): each half
        // is the identity on an empty frame
        val nDel = del.count()
        // materialized once per batch: the merged graph feeds the
        // touched-survivor write (2 joins) AND deleteRepairOf, which
        // references its g0 argument four times (survivors/cleaned/
        // lost-edges/dead-lists) — uncut, the whole insert fold's lazy
        // tail (merge + refine over the checkpointed pool) re-executed
        // per reference
        val inserted = graft.operators.IterationCheckpoint.cut(
          NnDescent.insertDeltaOf(e, prev, nBase, ins,
            Some(prevTomb), Some(tombTotal.get())))
        // touched survivors recorded BEFORE the repair (qd1's reporting
        // set; empty on insert-only batches)
        tch.write(v, inserted.join(broadcast(del), Seq("vec_id"), "left_anti")
          .join(broadcast(del.select(col("vec_id").as("nid"))),
            Seq("nid"), "left_semi")
          .select(col("vec_id")).distinct())
        g.write(v, NnDescent.deleteRepairOf(e, inserted, del, Some(nDel)))
        // the tombstone step over the generation already read above
        tomb.write(v, prevTomb.unionByName(del))
        tombTotal.addAndGet(nDel)
    }
    val gFin = g.after(last)
    val rpt = delta.select(col("vec_id"))
      .unionByName(tch.parts)
      .filter(pmod(col("vec_id"), lit(NnDescent.FlagSampleMod)) === 0)
      .distinct()
    NnDescent.reportTopK(gFin.join(rpt, Seq("vec_id"), "left_semi"),
      SimilarityQueries.exactTopKOf(e.filter(!dead), NnDescent.ReportK, rpt))
  }

  /** qd5: streaming MinHash index maintenance under DELETES — the LAST
    * delete-verb hole (IVF qc9, PQ qd0, graph qd1, suffix qc5 already
    * fold CDC deletes per micro-batch; MinHash had batch
    * serve-under-deletes qaa and batch compaction qb7 but no streamed
    * retraction fold). The snapshot index (docs < 250) persists once;
    * the CDC tail then delivers FOUR commits — insert (even delta
    * docs 250–374), a compliance DELETE sweep (every 5th doc among the
    * ids streamed or persisted so far), insert (odd delta), a second
    * sweep (every 5th odd delta doc) — and every micro-batch folds its
    * verb into a NEW index generation: inserts ride
    * [[graft.queries.DedupQueries.mergeMinhashIndex]] (qa8's narrow DF
    * full-outer + changed-rows-only re-sign), deletes ride
    * [[graft.queries.DedupQueries.compactMinhashIndex]] (qb7's
    * count-debit machinery: the corpus is NEVER read — sets ∪ dropped
    * reconstructs the dead docs' full shingle sets, the DF table is
    * debited, un-hotted shingles re-admit into exactly the live docs
    * that carried them, resurrection included). Interleaving matters:
    * the second merge lands on a COMPACTED generation and the second
    * compaction on a re-merged one — `MinhashCompactionPropSpec`'s
    * streamed-chain row proves the whole alternation stays
    * frame-for-frame identical to a from-scratch build over the live
    * corpus, which is why the serve through the FINAL generation can
    * share qb7's rebuild-over-live oracle (DF cap RE-COUNTED over live
    * docs — the un-frozen measure qaa's frozen-cap serve defers to
    * compaction). Generations are batch-id-keyed (replay-idempotent);
    * the fold is pure foreachBatch — zero state-store rows
    * (`StreamStateBoundSpec`'s generation-fold pin). */
  def docStreamMinhashRetraction(s: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.DedupQueries
    val tmp = graft.TempDirs.create("graft_mh_del_stream")
    val d = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val (idx, merged) = (Generations(s, tmp, "idx"), Generations(s, tmp, "m"))
    DedupQueries.buildMinhashIndex(
      s, d.filter(col("doc_id") < 250), idx.in(0))
    val incoming = d.filter(col("doc_id") >= 250 && col("doc_id") < 375)
    // the CDC tail: insert / delete sweep / insert / delete sweep —
    // each sweep hits only ids already persisted or streamed, so the
    // retraction covers snapshot members AND stream-appended ones
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 0), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.delete(s, s"$tmp/in",
      d.filter(col("doc_id") < 375 && pmod(col("doc_id"), lit(5)) === 0 &&
          (col("doc_id") < 250 || pmod(col("doc_id"), lit(2)) === 0))
        .select(col("doc_id")))
    graft.connector.GraftDoc.write(
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1), "doc_id", s"$tmp/in")
    graft.connector.GraftDoc.delete(s, s"$tmp/in",
      incoming.filter(pmod(col("doc_id"), lit(2)) === 1 &&
          pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id")))
    val last = drainBatches(s, "mh_del", cdcTail(s, s"$tmp/in", withOp = true)) {
      (batch, v) =>
        val (ins, del) = splitOps(batch, "doc_id", "text")
        // one verb per commit here, but the fold composes both for
        // generality (inserts merge first — the qc0 order — then deletes
        // compact the merged result). The identity half is SKIPPED rather
        // than run: each half rewrites the full frame set, so running it
        // on an empty frame would copy the index once per batch. Two cheap
        // in-batch counts decide; the delete count doubles as the
        // compaction's threaded tombstone cardinality.
        val nIns = ins.count()
        val nDel = del.count()
        val mergedPath =
          if (nIns == 0) idx.in(v)
          else {
            val out = if (nDel == 0) idx.out(v) else merged.out(v)
            DedupQueries.mergeMinhashIndex(s, ins, idx.in(v), out)
            out
          }
        if (nDel > 0)
          DedupQueries.compactMinhashIndex(s, del, mergedPath,
            idx.out(v), tombCount = Some(nDel))
        else if (nIns == 0)
          // an empty redelivered commit: carry the generation forward so
          // the chain stays batch-id-keyed
          DedupQueries.mergeMinhashIndex(s, ins, idx.in(v), idx.out(v))
    }
    DedupQueries.serveMinhashBatch(s,
      d.filter(col("doc_id") >= 375), idx.out(last))
  }

  /** q8g: streaming ANN serve from a PERSISTED index — the online half of
    * the q5i build/serve split. The IVF index (centroids + cell
    * memberships) is built once and persisted; queries then ARRIVE as a
    * CDC stream (two commits, odd ids then even) and every micro-batch is
    * answered by [[graft.queries.SimilarityQueries.ivfServeFor]] against
    * the persisted index — probe cost is O(|batch| · √N), the standing
    * corpus is touched only through the probed cells' id joins, and the
    * build pipeline never re-runs. Per-batch results land in
    * batch-id-keyed files (overwrite), so a replayed batch rewrites the
    * same file — idempotent by layout, the [[Generations]] replay rule. */
  def docStreamAnnServe(s: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_ann_serve_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val (cent, assign) = SimilarityQueries.buildIndex(e)
    cent.write.mode("overwrite").parquet(s"$tmp/cent")
    assign.write.mode("overwrite").parquet(s"$tmp/assign")
    val q = e.filter(col("vec_id") < 10)
    graft.connector.GraftDoc.write(
      q.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", s"$tmp/queries")
    graft.connector.GraftDoc.write(
      q.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", s"$tmp/queries")
    val ic = s.read.parquet(s"$tmp/cent")
    val ia = s.read.parquet(s"$tmp/assign")
    val served = Generations(s, tmp, "served")
    drainBatches(s, "ann_serve", cdcTail(s, s"$tmp/queries")
        // the sink hoisted vec_id into the string `_id` key (P2's rule)
        .select(col("_id").cast("long").as("qid"), col("embedding").as("qe"))) {
      (batch, v) => served.write(v, SimilarityQueries.ivfServeFor(batch, e, ic, ia))
    }
    served.parts
      .orderBy(col("qid"), col("rnk"))
  }

  /** q8y: streaming graph-ANN serve from the PERSISTED NN-Descent
    * graph — the q8g IVF-serve pattern applied to the graph index
    * family (build qao / serve qat / insert qb3 / delete qb4 /
    * compact qb5 now all have their streaming or batch counterpart).
    * The k-NN graph is built once and persisted; queries ARRIVE as a
    * CDC stream (two commits, odd ids then even) and every micro-batch
    * is answered by [[graft.operators.NnDescent.beamServeFor]] — the
    * width-4 beam walk over stored edges, ≤ BeamWidth·K distance evals
    * per query per hop, N-independent, completely STATELESS (zero
    * state rows; the graph is a parquet read, so no per-trigger
    * retrain — the q8p lesson pre-applied). Per-batch results land in
    * batch-id-keyed files (overwrite → replay idempotent, the
    * [[Generations]] replay rule); the drained union must be indistinguishable
    * from the batch walk's final beam — the oracle is qat's replay
    * CTEs, final hop only. */
  def docStreamGraphServe(s: SparkSession, sfDir: String,
      graphPath: String): DataFrame = {
    import graft.operators.NnDescent
    val tmp = graft.TempDirs.create("graft_graph_serve_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    NnDescent.knnGraph(e).write.mode("overwrite").parquet(graphPath)
    val g = s.read.parquet(graphPath)
    val q = e.filter(col("vec_id") < 10)
    graft.connector.GraftDoc.write(
      q.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", s"$tmp/queries")
    graft.connector.GraftDoc.write(
      q.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", s"$tmp/queries")
    val servedG = Generations(s, tmp, "served")
    drainBatches(s, "graph_serve", cdcTail(s, s"$tmp/queries")
        // the sink hoisted vec_id into the string `_id` key (P2's rule)
        .select(col("_id").cast("long").as("qid"), col("embedding").as("qe"))) {
      (batch, v) => servedG.write(v, NnDescent.beamServeFor(batch, e, g))
    }
    val served = servedG.parts
    val exact = graft.queries.SimilarityQueries
      .exactTopK(e, NnDescent.ReportK)
      .withColumn("in_top5", lit(1))
    served.join(exact,
        served("qid") === exact("qid") && served("nid") === exact("nid"),
        "left")
      .select(served("qid"), col("rnk"), served("nid"),
        round(col("c"), 4).as("cos"),
        coalesce(col("in_top5"), lit(0)).cast("int").as("in_top5"))
      .orderBy(served("qid"), col("rnk"))
  }

  /** qc0: the qb9 counting-Bloom dedup gate under a LIVE CDC feed — the
    * sketch-state-under-retraction shape no plain-Bloom pipeline can
    * run: the doc store takes three commits (snapshot insert →
    * compliance DELETE sweep → incoming insert), the CDC tail replays
    * them one micro-batch each with `_op` change types, and every batch
    * folds into VERSIONED counter state (`cnt` generation B+1 = B +
    * this batch's (cell, ±1) rows — order-independent sums, so the fold
    * is one narrow aggregate; keyed by batch id, replay-idempotent
    * by layout, the [[Generations]] replay rule) plus the narrow (doc_id, h) live
    * map the decrement needs (a delete CDC row carries no text — the
    * id→hash side table is what any production counting-filter service
    * keeps so it knows WHAT to decrement). Each batch's inserts are
    * screened against the PRE-batch state: filter verdict from the
    * folded counter map (one scalar), exact confirm anti join against
    * the pre-batch live hashes — so batch-3 docs whose only snapshot
    * partner died in batch 2 come out NOVEL, the re-admission verdict
    * the filter exists to make. Drained novel set ≡ qb9's one-shot
    * batch gate: qc0 SHARES qb9's oracle verbatim. */
  def docStreamRetractionDedup(s: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BloomFunctions
    val (m, k) = (65536L, 4)
    val tmp = graft.TempDirs.create("graft_cbf_stream")
    val d = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    graft.connector.GraftDoc.write(
      d.filter(col("doc_id") < 250), "doc_id", s"$tmp/tbl")
    graft.connector.GraftDoc.delete(s, s"$tmp/tbl",
      d.filter(col("doc_id") < 250 && pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id")))
    graft.connector.GraftDoc.write(
      d.filter(col("doc_id") >= 250), "doc_id", s"$tmp/tbl")
    // v0 state: empty counters, empty live-id map
    val (cnt, ids) = (Generations(s, tmp, "cnt"), Generations(s, tmp, "ids"))
    val novel = Generations(s, tmp, "novel")
    cnt.seed("cell long, n long")
    ids.seed("doc_id long, h string")
    drainBatches(s, "cbf_stream", cdcTail(s, s"$tmp/tbl", withOp = true)) {
      (batch, v) =>
        val (ins0, del) = splitOps(batch, "doc_id", "text", "lang")
        val ins = ins0.withColumn("h", sha2(col("text"), 256))
        val prevCnt = cnt.read(v)
        val prevIds = ids.read(v)
        // screen this batch's inserts against the PRE-batch state
        val cbf = prevCnt
          .agg(map_from_entries(
            collect_list(struct(col("cell"), col("n")))).as("cbf"))
          .scalar()
        val flagged = ins.withColumn("cand",
          BloomFunctions.counting_might_contain(cbf, col("h"), m, k))
        novel.write(v, flagged.filter(!col("cand"))
          .select(col("doc_id"), col("lang"))
          .unionByName(flagged.filter(col("cand"))
            .join(prevIds.select(col("h")), Seq("h"), "left_anti")
            .select(col("doc_id"), col("lang"))))
        // fold the batch into the next state generation. Delete
        // hashes resolve against prevIds ∪ THIS batch's inserts —
        // not prevIds alone — so an insert and its retraction
        // landing in one micro-batch still cancel (+1/−1 per
        // copy, multiset-exact) instead of leaving the insert's
        // counters in place forever; the fold does NOT depend on
        // maxCommitsPerTrigger=1 isolating deletes into their own
        // batch. Within a batch, deletes apply AFTER inserts.
        val delH = del
          .join(prevIds.unionByName(ins.select(col("doc_id"), col("h"))),
            Seq("doc_id"))
          .select(col("doc_id"), col("h"))
        val deltaCells = ins.select(
            explode(BloomFunctions.counting_cells(col("h"), m, k))
              .as("cell"), lit(1L).as("w"))
          .unionByName(delH.select(
            explode(BloomFunctions.counting_cells(col("h"), m, k))
              .as("cell"), lit(-1L).as("w")))
        cnt.write(v, prevCnt.select(col("cell"), col("n").as("w"))
          .unionByName(deltaCells)
          .groupBy(col("cell")).agg(sum(col("w")).as("n"))
          .filter(col("n") > 0))
        ids.write(v, prevIds.join(del, Seq("doc_id"), "left_anti")
          .unionByName(ins.select(col("doc_id"), col("h"))
            .join(del, Seq("doc_id"), "left_anti")))
    }
    // batch-1's bootstrap novelties (the snapshot itself) fall away here
    novel.parts
      .filter(col("doc_id") >= 250)
      .orderBy(col("doc_id"))
  }

  /** qc5: streaming suffix-structure maintenance under DELETES — the
    * qc0 retraction pattern applied to the q8x index (and the verb the
    * suffix family's streaming story was missing: q8x folds CDC
    * ingests, qb8 compacts batch tombstones, but a delete arriving ON
    * the stream had no answer). The doc store takes three commits
    * (snapshot insert → compliance DELETE sweep → incoming insert),
    * the CDC tail replays them one micro-batch each with `_op` change
    * types, and every batch folds into VERSIONED structure state
    * (keyed by batch id, replay-idempotent by layout — the
    * [[Generations]] replay rule):
    *   - inserts contribute row-local (doc_id, pos, key) rows from
    *     their own text alone (pos generation B+1, the q8x asymmetry — no old
    *     position recomputed);
    *   - deletes ride qb8's count-debit: dead keys come from the
    *     tombstoned docs' OWN stored position rows (a delete CDC row
    *     carries no text — the accumulated pos generations are the
    *     id→keys side table), debited from the per-key counts as
    *     order-independent (key, ±n) sums; keys reaching zero VANISH
    *     and the dictionary renumber shifts every rank above them —
    *     the case ingest-only maintenance never exercises;
    *   - the dictionary renumbers per batch over the SURVIVING key
    *     set: O(|dict|), never O(corpus positions).
    * Dead position rows from the SAME batch's inserts debit too (the
    * qc0 lesson: the fold must not depend on maxCommitsPerTrigger=1
    * isolating deletes). Position rows are GENERATION-STAMPED and
    * tombstones carry the generation they landed in, so ops resolve by
    * LATEST PER DOC: a delete debits (and the serve drops) only rows
    * newer than the doc's previous tombstone, and a re-insert after a
    * delete serves its new rows — the fold does not depend on the
    * drain's insert/delete id spaces staying disjoint. After the
    * drain, positions serve through the
    * final dictionary minus the tombstone set; the oracle replays
    * qau's doubling rounds over the LIVE corpus (qb8's oracle), so
    * hash equality certifies the streamed insert/delete/insert fold
    * landed bit-exactly on the rebuilt structure — rank shifts
    * included. */
  def docStreamSuffixRetraction(s: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.SuffixRanks
    val tmp = graft.TempDirs.create("graft_sfx_del_stream")
    val d = s.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sweep = col("doc_id") < 250 && pmod(col("doc_id"), lit(10)) === 5
    // half the swept docs are RE-INSERTED with the incoming commit
    // (%20==15 — the other half stays dead): the drain itself exercises
    // the latest-op revival path, not just the disjoint-id case
    val revived = col("doc_id") < 250 && pmod(col("doc_id"), lit(20)) === 15
    graft.connector.GraftDoc.write(
      d.filter(col("doc_id") < 250), "doc_id", s"$tmp/tbl")
    graft.connector.GraftDoc.delete(s, s"$tmp/tbl",
      d.filter(sweep).select(col("doc_id")))
    graft.connector.GraftDoc.write(
      d.filter(col("doc_id") >= 250 || revived), "doc_id", s"$tmp/tbl")
    // v0 state: empty counts, empty dictionary, empty tombstone set
    val (posG, counts) = (Generations(s, tmp, "pos"), Generations(s, tmp, "counts"))
    val (dict, tomb) = (Generations(s, tmp, "dict"), Generations(s, tmp, "tomb"))
    counts.seed("key string, n long")
    tomb.seed("doc_id long, gen long")
    val last = drainBatches(s, "sfx_del", cdcTail(s, s"$tmp/tbl", withOp = true)) {
      (batch, v) =>
        val (ins, del) = splitOps(batch, "doc_id", "text")
        // inserts: row-local keys from this batch's text alone,
        // GENERATION-STAMPED — a later delete debits (and the serve
        // drops) exactly the rows of generations after the doc's
        // last tombstone, so delete-then-reinsert resolves by
        // LATEST OP per doc instead of relying on the drain's id
        // spaces staying disjoint
        posG.write(v, SuffixRanks.suffixKeys(ins).withColumn("gen", lit(v + 1)))
        val newCounts = posG.after(v)
          .groupBy(col("key")).agg(count(lit(1)).as("n"))
        // deletes: dead keys from the tombstoned docs' stored rows
        // (ALL generations incl. this batch's inserts — same-batch
        // insert+delete must cancel, the qc0 rule) — but only rows
        // NEWER than the doc's last tombstone: generations a prior
        // delete already debited must not debit twice
        val priorDel = tomb.read(v)
          .groupBy(col("doc_id")).agg(max(col("gen")).as("dgen"))
        val deadCounts = posG.parts
          .join(del, Seq("doc_id"), "left_semi")
          .join(priorDel, Seq("doc_id"), "left")
          .filter(col("gen") > coalesce(col("dgen"), lit(0L)))
          .groupBy(col("key")).agg((-count(lit(1))).as("n"))
        // fold: order-independent (key, ±n) sums; zeroed keys vanish
        counts.step(v)(_.unionByName(newCounts).unionByName(deadCounts)
          .groupBy(col("key")).agg(sum(col("n")).as("n"))
          .filter(col("n") > 0))
        // renumber the SURVIVING dictionary: O(dict), the qb8 term
        dict.write(v, SuffixRanks.rankDict(counts.after(v)))
        tomb.tombstone(v, del.withColumn("gen", lit(v + 1)))
    }
    // latest-op resolution: a doc's live rows are the generations AFTER
    // its last tombstone (none if never deleted) — a delete followed by
    // a re-insert serves the re-inserted rows, a trailing delete serves
    // nothing, and the no-reinsert drain below reduces to the plain
    // anti join this replaces
    val lastDel = tomb.after(last)
      .groupBy(col("doc_id")).agg(max(col("gen")).as("dgen"))
    val pos = posG.parts
      .join(lastDel, Seq("doc_id"), "left")
      .filter(col("gen") > coalesce(col("dgen"), lit(0L)))
    // group sizes from the maintained counts table — the fold's debit
    // invariant says the final counts(key) IS |live positions of key|,
    // so the corpus frame is only touched by the sample filter
    // (SuffixRanks.auditServe — the counts-invariant serve tail)
    SuffixRanks.auditServe(pos, dict.after(last), counts.after(last))
  }

  /** q8z: streaming PQ-ADC serve from a PERSISTED product-quantization
    * index — the persisted-index streaming serve carried to its FOURTH
    * family (IVF q8g, MinHash q8q, graph q8y, PQ here): the codebook and
    * the 8-byte-per-vector codes persist once; queries ARRIVE as a CDC
    * stream (two commits, odd then even ids) and each micro-batch builds
    * its 128-row-per-query lookup tables from the codebook
    * ([[graft.queries.SimilarityQueries.pqLutFor]]) and scores the whole
    * code table by (j, code) EQUI JOIN against the broadcast LUT — raw
    * corpus vectors are never touched at serve time, which is the PQ
    * contract (8 bytes read per candidate). Completely stateless (zero
    * state rows; codebook + codes are parquet reads, no per-trigger
    * retrain — the q8p lesson). Per-batch results land in batch-id-keyed
    * files (overwrite → replay idempotent, the [[Generations]] replay rule); the
    * drained union must be indistinguishable from q5s's one-shot batch
    * ADC — q8z shares q5s's oracle verbatim, which IS that claim. */
  def docStreamPqServe(s: SparkSession, sfDir: String): DataFrame = {
    import graft.queries.SimilarityQueries
    val tmp = graft.TempDirs.create("graft_pq_serve_stream")
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    val sub = SimilarityQueries.pqSub(e)
    SimilarityQueries.pqCodebook(sub)
      .write.mode("overwrite").parquet(s"$tmp/cb")
    val icb = s.read.parquet(s"$tmp/cb")
    SimilarityQueries.pqCodes(sub, icb)
      .write.mode("overwrite").parquet(s"$tmp/codes")
    val icodes = s.read.parquet(s"$tmp/codes")
    val q = e.filter(col("vec_id") < 10)
    graft.connector.GraftDoc.write(
      q.filter(pmod(col("vec_id"), lit(2)) === 1), "vec_id", s"$tmp/queries")
    graft.connector.GraftDoc.write(
      q.filter(pmod(col("vec_id"), lit(2)) === 0), "vec_id", s"$tmp/queries")
    val served = Generations(s, tmp, "served")
    drainBatches(s, "pq_serve", cdcTail(s, s"$tmp/queries")
        // the sink hoisted vec_id into the string `_id` key (P2's rule)
        .select(col("_id").cast("long").as("qid"), col("embedding").as("qe"))) {
      (batch, v) => served.write(v, SimilarityQueries.pqServeFor(batch, icodes, icb))
    }
    served.parts
      .orderBy(col("qid"), col("rnk"))
  }

  /** q8h: streaming range join — clicks ARRIVE as a CDC stream (two
    * commits) and every micro-batch joins to the STATIC attribution-window
    * table through [[graft.operators.RangeJoin]]'s bin key: the static
    * side explodes its intervals onto 1-hour bins ONCE per micro-batch
    * plan, each streamed click maps to its single bin, and the join is a
    * stream-static EQUI join on the bin id with the exact range as a
    * residual filter — completely STATELESS (no watermark, no state
    * store), which is the point: the raw `p_ts BETWEEN lo AND hi`
    * predicate would be a per-batch nested loop at scale, and a
    * stream-stream interval join would hold state the static side never
    * needed. Per-batch matches land in batch-id-keyed files (overwrite →
    * replay idempotent, the [[Generations]] replay rule); the drained result folded
    * over all batches must equal q1f's one-shot batch range join — the
    * oracle replays exactly that. */
  def docStreamRangeJoin(s: SparkSession, sfDir: String): DataFrame = {
    val hourNs = 3600000000000L
    val tmp = graft.TempDirs.create("graft_range_stream")
    val ev = graft.sources.Tables.load(s, sfDir, "events")
    // freeze the static side ONCE (the q8p withFrozenModel rule): each
    // micro-batch re-executes the static subplan, and deriving the
    // interval table from the full events scan per trigger re-pays the
    // corpus read every batch — persisted, a trigger scans the ~1/97
    // interval rows only
    ev.filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
      .select(col("event_id").as("iv_id"), col("ts_ns").as("lo"),
        (col("ts_ns") + (col("event_id") % 5 + 1) * hourNs).as("hi"))
      .write.mode("overwrite").parquet(s"$tmp/iv")
    val iv = s.read.parquet(s"$tmp/iv")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("p_id"), col("ts_ns").as("p_ts"))
    graft.connector.GraftDoc.write(
      clicks.filter(pmod(col("p_id"), lit(2)) === 1), "p_id", s"$tmp/clicks")
    graft.connector.GraftDoc.write(
      clicks.filter(pmod(col("p_id"), lit(2)) === 0), "p_id", s"$tmp/clicks")
    val stream = cdcTail(s, s"$tmp/clicks")
      // the sink hoisted p_id into the string `_id` key (P2's rule)
      .select(col("_id").cast("long").as("p_id"), col("p_ts"))
    val matched = graft.operators.RangeJoin
      .pointInInterval(iv, "lo", "hi", stream, "p_ts", binWidth = hourNs)
      .select(col("iv_id"), col("p_id"))
    val matchedG = Generations(s, tmp, "matched")
    drainBatches(s, "range_join", matched)((batch, v) => matchedG.write(v, batch))
    val counts = matchedG.parts
      .groupBy(col("iv_id"))
      .agg(count(lit(1)).as("n"), sum(col("p_id")).as("sids"))
    iv.join(counts, Seq("iv_id"), "left")
      .select(col("iv_id"),
        coalesce(col("n"), lit(0L)).as("n_clicks"),
        coalesce(col("sids"), lit(0L)).as("sum_click_ids"))
      .orderBy(col("iv_id"))
  }

  /** Streaming corpus ingestion end-to-end — the training-data topology
    * composed from proven stages: a source table's CDC tail (multi-batch,
    * one commit per trigger) → stateless quality gate → keyed UPSERT into
    * a second graft-doc table (exactly-once per epoch) → snapshot rollup.
    * Deduplication across re-delivered versions needs NO stream state at
    * all: the sink's upsert-by-`_id` semantics resolve them (last commit
    * wins), which is the scale answer — a billion-key "seen" state store
    * would be the wrong tool when the store itself is keyed.
    *
    * The source history includes an UPDATE window (docs 100–199 rewritten
    * with a longer body in a later commit), so the oracle proves
    * last-write-wins ordering survives the stream: the final corpus holds
    * the v2 text exactly where v2 passed the gate. */
  def docStreamIngest(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_doc_ingest")
    val docs = s.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"), col("lang"))
    // three source commits: two insert halves + one update window
    graft.connector.GraftDoc.write(
      docs.filter(col("doc_id") < 250), "doc_id", s"$tmp/src")
    graft.connector.GraftDoc.write(
      docs.filter(col("doc_id") >= 250), "doc_id", s"$tmp/src")
    graft.connector.GraftDoc.write(
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .withColumn("text", concat(lit("updated "), col("text"))),
      "doc_id", s"$tmp/src")
    // tombstones are not ingests: only the insert half is kept
    val (ins, _) = splitOps(cdcTail(s, s"$tmp/src", withOp = true),
      "doc_id", "text", "lang")
    val cdc = ins.filter(length(col("text")) >= 100) // stateless quality gate
    withStreamShufflePartitions(s) {
      graft.connector.GraftDoc.writeStream(
        cdc, keyField = "doc_id",
        path = s"$tmp/corpus", checkpoint = s"$tmp/ckpt")
        .awaitTermination()
    }
    graft.connector.GraftDoc.snapshot(s, s"$tmp/corpus")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("sum_chars"))
      .orderBy(col("lang"))
  }

  /** Event-time sessionization: session_window with a 30-minute inactivity
    * gap per user — the streaming twin of batch q40_sessionize, same
    * session semantics as the lag-based oracle. Append mode: a session
    * emits once, when the watermark proves it can no longer be extended
    * (passes last-event + gap); state holds only open sessions. The
    * per-user rollup is a BATCH aggregation over the drained sessions,
    * post-filtered (both engines) to sessions whose end sits ≥ 30 min
    * below the final watermark (max event time − 30 min delay). */
  def sessionWindows(s: SparkSession, sfDir: String): DataFrame = {
    val sess = eventsStream(s, sfDir)
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_in_session"))
    runToMemory(s, sess, "append")
      .crossJoin(broadcast(horizonEnd(s, sfDir, "1 HOUR")))
      .filter(col("session_window.end") < col("h_end"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_in_session")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** q8i: continuous sketch maintenance — the streaming half of q0e's
    * "mergeable sketches as data". Events ARRIVE as a CDC stream (two
    * commits) and every micro-batch folds its per-(day, event_type) HLL
    * sketches into a persisted sketch table via `hll_union_agg`:
    * state generation B+1 = fold(generation B, sketches(batch B)), and
    * batch 0's sketches alone are generation 1. The state is VERSIONED
    * immutable files keyed by batch id (the [[Generations]] replay rule),
    * so a replayed batch rewrites the same version deterministically —
    * replay idempotent with zero transactional machinery. At 100 TB this
    * is the production distinct-counting shape: each trigger touches only
    * its own batch (one map-side sketch pass) plus a FIXED-SIZE state
    * table (one sketch per group — KBs), never the history; and the
    * estimates serve from the STORED sketches — the persistable
    * pre-aggregation a throwaway `approx_count_distinct` can't give.
    * Estimates are deterministic (HLL registers merge by max,
    * order-independent), so the ±5% flags pin exactly against the
    * batch-derived exact anchors. */
  def docStreamHllSketch(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_hll_stream")
    val ev = graft.sources.Tables.load(s, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        dayofmonth(col("ts")).as("d"))
    graft.connector.GraftDoc.write(
      ev.filter(pmod(col("event_id"), lit(2)) === 1), "event_id", s"$tmp/src")
    graft.connector.GraftDoc.write(
      ev.filter(pmod(col("event_id"), lit(2)) === 0), "event_id", s"$tmp/src")
    val state = Generations(s, tmp, "state")
    val last = drainBatches(s, "hll_stream", cdcTail(s, s"$tmp/src")
        .select(col("d"), col("event_type"), col("user_id"))) {
      (batch, v) =>
        val batchSk = batch.groupBy(col("d"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
        // no generation 0: the first batch's sketches are the state
        state.write(v,
          if (v == 0) batchSk
          else state.read(v)
            .unionByName(batchSk)
            .groupBy(col("d"), col("event_type"))
            .agg(hll_union_agg(col("sk"), lit(false)).as("sk")))
    }
    // serve from the final stored state; exact anchors batch-derived
    val est = state.after(last)
      .select(col("d"), col("event_type"),
        hll_sketch_estimate(col("sk")).as("est"))
    val exact = ev.groupBy(col("d"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(est, Seq("d", "event_type"))
      .select(col("d"), col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          col("exact_users") * 0.05).as("within_5pct"))
      .orderBy(col("d"), col("event_type"))
  }

  /** q8n: continuous robust anomaly flagging — q9i's streaming twin.
    * Per-type median/MAD baselines train on the HISTORICAL slice
    * (event_id % 2 = 0) as a batch aggregate; CDC-arriving events (the
    * odd slice, two source commits) are scored row-locally against the
    * broadcast baseline frame in the micro-batch plan — a STATELESS
    * stream-static equi join on event_type, zero watermark state. This
    * is the production monitoring shape: baselines refresh on a slow
    * batch cadence, the stream only compares — so state never grows with
    * the stream, and a re-trained baseline swaps in without touching the
    * stream topology. Drained flags must equal batch-scoring the same
    * slice (the q8e indistinguishability rule). */
  def docStreamAnomaly(s: SparkSession, sfDir: String): DataFrame = {
    val tmp = graft.TempDirs.create("graft_anomaly_stream")
    val ev = graft.sources.Tables.load(s, sfDir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val hist = ev.filter(pmod(col("event_id"), lit(2)) === 0)
    val med = hist.groupBy(col("event_type"))
      .agg(round(percentile(col("value"), lit(0.5)), 9).as("med"))
    val mad = hist.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(round(percentile(abs(col("value") - col("med")), lit(0.5)), 9)
        .as("mad"))
    val stats = med.join(mad, Seq("event_type")).filter(col("mad") > 0)
    val odd = ev.filter(pmod(col("event_id"), lit(2)) === 1)
    graft.connector.GraftDoc.write(
      odd.filter(pmod(col("event_id"), lit(4)) === 1), "event_id", s"$tmp/src")
    graft.connector.GraftDoc.write(
      odd.filter(pmod(col("event_id"), lit(4)) === 3), "event_id", s"$tmp/src")
    val flagged = cdcTail(s, s"$tmp/src")
      .select(col("_id").cast("long").as("event_id"),
        col("event_type"), col("value"))
      .join(broadcast(stats), Seq("event_type"))
      .filter(abs(col("value") - col("med"))
        > lit(3) * lit(1.4826) * col("mad"))
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("med"))
          / (lit(1.4826) * col("mad")), 6).as("z"))
    val flags = Generations(s, tmp, "flags")
    drainBatches(s, "anomaly", flagged)((batch, v) => flags.write(v, batch))
    flags.parts
      .select(col("event_id"), col("event_type"), col("z"))
      .orderBy(col("event_id"))
  }

  /** q8o: continuous perceptual image dedup — q9t's streaming twin, the
    * multimodal ingest gate: the historical corpus's dHash band index is
    * built batch-side (even doc_ids, through the same real-PNG codec
    * seam), and CDC-arriving images (odd ids, two commits) decode + hash
    * ROW-LOCALLY inside the micro-batch plan (typed mapPartitions lifts
    * into streaming unchanged — the codec seam contract), then probe the
    * broadcast band index: a STATELESS stream-static equi join per band,
    * exact xor/popcount verify ≤ 3. Zero state rows — the standing index
    * is a bounded static frame, the stream only probes; pair dedup
    * across the 4 band hits happens post-drain (a streaming `distinct`
    * would be aggregation state for no reason). Banding stays lossless
    * at this threshold (pigeonhole, the q9t proof), which the oracle
    * re-proves cross-slice by brute-forcing all odd×even pairs. */
  def docStreamImageDedup(s: SparkSession, sfDir: String): DataFrame = {
    import s.implicits._
    import graft.queries.MultimodalQueries.{MediaImage, dhashImages, synthesizePng}
    val tmp = graft.TempDirs.create("graft_img_stream")
    val ids = s.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"))
    def bandRows(hashes: DataFrame): DataFrame =
      hashes.select(col("doc_id"), col("h0"), col("h1"),
        explode(array(
          struct(lit(0).as("band"), col("b0").as("key")),
          struct(lit(1).as("band"), col("b1").as("key")),
          struct(lit(2).as("band"), col("b2").as("key")),
          struct(lit(3).as("band"), col("b3").as("key")))).as("bk"))
        .select(col("doc_id"), col("h0"), col("h1"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    val hist = bandRows(
      ids.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => MediaImage(id, synthesizePng(id))))
        .mapPartitions(dhashImages).toDF())
      .select(col("doc_id").as("id_hist"), col("h0").as("h0h"),
        col("h1").as("h1h"), col("band"), col("key"))
    val odd = ids.filter(pmod(col("doc_id"), lit(2)) === 1)
    graft.connector.GraftDoc.write(
      odd.filter(pmod(col("doc_id"), lit(4)) === 1), "doc_id", s"$tmp/src")
    graft.connector.GraftDoc.write(
      odd.filter(pmod(col("doc_id"), lit(4)) === 3), "doc_id", s"$tmp/src")
    val stream = cdcTail(s, s"$tmp/src")
      .select(col("_id").cast("long").as("doc_id")).as[Long]
      .mapPartitions(_.map(id => MediaImage(id, synthesizePng(id))))
      .mapPartitions(dhashImages).toDF()
    val matched = bandRows(stream)
      .join(broadcast(hist), Seq("band", "key"))
      .withColumn("hamming",
        (bit_count(col("h0").bitwiseXOR(col("h0h")))
          + bit_count(col("h1").bitwiseXOR(col("h1h")))).cast("long"))
      .filter(col("hamming") <= 3)
      .select(col("doc_id").as("id_new"), col("id_hist"), col("hamming"))
    val hits = Generations(s, tmp, "hits")
    drainBatches(s, "img_dedup", matched)((batch, v) => hits.write(v, batch))
    hits.parts
      .distinct() // collapse multi-band hits for the same pair
      .orderBy(col("id_new"), col("id_hist"))
      .select(col("id_new"), col("id_hist"), col("hamming"))
  }

  /** q8t: the reference's IDENTITY topology, end to end — a Kafka-0.9
    * wire stream feeding a keyed document sink
    * (`MapRStreamingSource.java:70-94` → `MapRDBJSONSink.java:102-104`),
    * run for real through the engine's own halves of both:
    * distributed wire producers → [[graft.sources.kafka.MiniKafkaBroker]]
    * → `StreamSource.read` (graft-kafka micro-batch source, F3 csv
    * decode) → `format("graft-doc")` (the DSv2 streaming upsert sink,
    * keyed as `GraftDoc.writeStream` keys it) → snapshot read. Two produce/drain waves against ONE checkpoint:
    * wave 1 ships STALE rows (segment 'PENDING', balance 0), wave 2 the
    * real ones — the second drain must resume from the committed wire
    * offsets (no re-read) and the sink must upsert every key to its
    * fresh version (commit 2 beats commit 1). The oracle aggregates the
    * customer parquet directly, so a single surviving stale row (a
    * 'PENDING' group), a lost key, or a replayed wave all hash-fail. */
  def kafkaWireToDocSink(s: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.kafka.{KafkaWireClient, KafkaWireProtocol, MiniKafkaBroker}
    val broker = new MiniKafkaBroker().start()
    val tmp = graft.TempDirs.create("graft_wire_sink")
    try {
      val nParts = 2
      val topic = "graft_cust"
      broker.createTopic(topic, nParts)
      val port = broker.port
      val cust = s.read.parquet(s"$sfDir/customer.parquet")
        .filter(col("c_custkey") < 1000)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      def produce(stale: Boolean): Unit =
        cust.repartition(nParts, col("c_custkey"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            if (it.nonEmpty) {
              val c = new KafkaWireClient("127.0.0.1", port, "graft-cust-prod")
              try it.grouped(200).foreach { g =>
                g.groupBy(r => (r.getLong(0) % nParts).toInt)
                  .foreach { case (p, rows) =>
                    c.produce(topic, p, rows.map { r =>
                      val line =
                        if (stale) s"${r.getLong(0)},PENDING,0.0"
                        else s"${r.getLong(0)},${r.getString(1)},${r.getDouble(2)}"
                      KafkaWireProtocol.WireMessage(0,
                        r.getLong(0).toString.getBytes("UTF-8"),
                        line.getBytes("UTF-8"))
                    })
                  }
              } finally c.close()
            }
          }
      val cfg = graft.sources.StreamSource.StreamConfig(
        referenceName = "kafka_wire_sink",
        brokers = broker.bootstrapServers,
        topics = Seq(topic),
        initialOffset = "beginning",
        format = Some("csv"),
        avroSchemaJson = Some("""{"type":"record","name":"cust","fields":[
          {"name":"custkey","type":"long"},
          {"name":"seg","type":"string"},
          {"name":"bal","type":"double"}]}"""))
      withEphemeralCheckpoint("wire_sink") { ckpt =>
        def wave(stale: Boolean): Unit = {
          produce(stale)
          drain(s, graft.sinks.DocumentSink.toDocuments(
              graft.sources.StreamSource.read(s, cfg)
                .select(col("custkey"), col("seg"), col("bal")), "custkey"),
            ckpt)(_.format("graft-doc").option("path", s"$tmp/sink"))
        }
        wave(stale = true)   // commit 1: every key, stale
        wave(stale = false)  // commit 2: every key, fresh
      }
      graft.connector.GraftDoc.snapshot(s, s"$tmp/sink")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("bal") * 100 + 0.5).cast("long")).as("cents"))
        .orderBy(col("seg"))
    } finally broker.close()
  }

  /** q8s: S1 EXECUTED inside the correctness gate — the reference's front
    * door (`MapRStreamingSource.java:70-94`) as a live run, not a
    * contract test. An in-process [[graft.sources.kafka.MiniKafkaBroker]]
    * speaks the Kafka-0.9 wire protocol on a real TCP socket; documents
    * are produced onto it by DISTRIBUTED producers (each Spark task owns
    * a wire connection — the parallel-ingest shape, no driver collect);
    * then `StreamSource.read` consumes them back through the
    * `graft-kafka` micro-batch source (Metadata → Offsets → partition-
    * parallel Fetch) and the F2 text decode, and the drained frame is
    * measured per document. The oracle computes the same measures from
    * the parquet table directly, so a hash match proves the bytes
    * survived produce → broker log → fetch → decode EXACTLY — every
    * record, every partition, no duplicate, no loss, no mangling. */
  def kafkaWireIngest(s: SparkSession, sfDir: String): DataFrame = {
    import graft.sources.kafka.{KafkaWireClient, KafkaWireProtocol, MiniKafkaBroker}
    val broker = new MiniKafkaBroker().start()
    try {
      val nParts = 4
      val topic = "graft_docs"
      broker.createTopic(topic, nParts)
      val port = broker.port
      val docs = s.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 400)
      // distributed producers: partition-local wire connections, batches
      // of ≤100 records per Produce round-trip, records routed to their
      // doc_id-hash partition (the standard keyed-producer rule)
      docs.repartition(nParts, col("doc_id"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          if (it.nonEmpty) {
            val c = new KafkaWireClient("127.0.0.1", port, "graft-producer")
            try it.grouped(100).foreach { g =>
              g.groupBy(r => (r.getLong(0) % nParts).toInt)
                .foreach { case (p, rows) =>
                  c.produce(topic, p, rows.map(r =>
                    KafkaWireProtocol.WireMessage(0,
                      r.getLong(0).toString.getBytes("UTF-8"),
                      r.getString(1).getBytes("UTF-8"))))
                }
            } finally c.close()
          }
        }
      val cfg = graft.sources.StreamSource.StreamConfig(
        referenceName = "kafka_wire_ingest",
        brokers = broker.bootstrapServers,
        topics = Seq(topic),
        initialOffset = "beginning",
        format = Some("text"))
      val drained = runToMemory(s, graft.sources.StreamSource.read(s, cfg), "append")
      drained.select(
          col("key").cast("string").cast("long").as("doc_id"),
          length(col("message")).cast("long").as("n_chars"),
          size(split(col("message"), " ")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id"))
    } finally broker.close()
  }
}
