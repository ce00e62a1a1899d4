package perfbench

import java.io.ByteArrayOutputStream
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.connector.GraftDoc
import graft.formats.Decoders
import graft.sinks.DocumentSink
import graft.sources.StreamSource
import graft.sources.kafka.{KafkaWireClient, KafkaWireOffset, MiniKafkaBroker}
import graft.sources.kafka.KafkaWireProtocol.{encodeMessageSet, WireMessage}

/** The seeded event stream of one window: a backlog, then a live schedule
  * of fixed-size chunks. Keys are Zipf(s = 1) over [[WireIngest.Keys]];
  * `v` is the global sequence number, so a key's latest value is its
  * highest `v`. Live records carry their scheduled creation time
  * (`sched_us`, relative to the start of the live phase) — the stamp the
  * latency is measured from, and a pure function of the seed. */
final class EventGen(seed: Long) {
  import WireIngest._
  private val rng = new java.util.Random(seed)
  private val writer = new GenericDatumWriter[GenericRecord](AvroSchema)
  private val out = new ByteArrayOutputStream(64)
  private var enc = EncoderFactory.get().binaryEncoder(out, null)
  private var seq = 0L
  val digest: MessageDigest = MessageDigest.getInstance("SHA-256")

  private def zipfKey(): Long = {
    val u = rng.nextDouble() * ZipfCdf(Keys - 1)
    var lo = 0
    var hi = Keys - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ZipfCdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo + 1L
  }

  /** `n` records, grouped by partition in partition order; each group is
    * one produce call. Every produced byte goes through the digest. */
  def chunk(n: Int, schedUs: Long): Seq[(Int, Seq[WireMessage], Seq[(Long, Long)])] = {
    val byPart = Array.fill(Partitions)(ArrayBuffer.empty[(WireMessage, (Long, Long))])
    (0 until n).foreach { _ =>
      val k = zipfKey()
      val r = new GenericData.Record(AvroSchema)
      r.put("k", k); r.put("v", seq); r.put("sched_us", schedUs)
      r.put("amount", rng.nextInt(1000000) / 100.0)
      r.put("kind", Kinds(rng.nextInt(Kinds.length)))
      out.reset()
      enc = EncoderFactory.get().binaryEncoder(out, enc)
      writer.write(r, enc)
      enc.flush()
      byPart((k % Partitions).toInt) +=
        ((WireMessage(0L, k.toString.getBytes("UTF-8"), out.toByteArray), (k, seq)))
      seq += 1
    }
    byPart.toSeq.zipWithIndex.filter(_._1.nonEmpty).map { case (b, p) =>
      val msgs = b.map(_._1).toSeq
      digest.update(p.toByte)
      digest.update(encodeMessageSet(msgs))
      (p, msgs, b.map(_._2).toSeq)
    }
  }

  def hex: String = digest.clone().asInstanceOf[MessageDigest].digest()
    .map("%02x".format(_)).mkString
}

/** `wire_ingest`: Avro events over TCP into [[MiniKafkaBroker]], read by
  * `StreamSource.read(format = avro)`, shaped by
  * `DocumentSink.toDocuments` and written by a long-running
  * `writeStream.format("graft-doc")` query with the default trigger.
  * Phase 1 drains a pre-produced backlog from the beginning (catch-up);
  * phase 2 feeds the same query from an open-loop generator at a fixed
  * rate (live), and measures each record from its scheduled creation to
  * the end of the micro-batch that commits it. */
final class WireIngest(ctx: Ctx) extends Workload {
  import WireIngest._
  private val spark = ctx.spark
  private val broker = new MiniKafkaBroker().start()
  private val client = new KafkaWireClient("127.0.0.1", broker.port, "perfbench-producer")

  /** One backlog topic: its generator, key -> latest v model, backlog end
    * offsets and, for the topic that also takes the live phase, each live
    * record's schedule (by partition, in offset order) and the live start. */
  private final class Win(val w: Int) {
    val topic = s"events$w"
    val gen = new EventGen(ctx.seed * 1000003L + w)
    val latest = new java.util.HashMap[Long, Long]()
    val backlogEnd = Array.fill(Partitions)(0L)
    val liveSched = Array.fill(Partitions)(ArrayBuffer.empty[Long])
    val produced = ArrayBuffer.empty[(Double, Long)] // (wall ms, cumulative records)
    val vAt = Array.fill(Partitions)(ArrayBuffer.empty[Long]) // v by partition offset
    var batchOf: Array[Int] = Array.empty // micro-batch id by v
    var total = 0L
    var liveStartMs = 0.0
    var query: StreamingQuery = _
    val table = s"${ctx.work}/wire_ingest/table$w"
    val checkpoint = s"${ctx.work}/wire_ingest/cp$w"
    def produce(n: Int, schedUs: Long, live: Boolean): Unit =
      gen.chunk(n, schedUs).foreach { case (p, msgs, kv) =>
        client.produce(topic, p, msgs)
        kv.foreach { case (k, v) => latest.put(k, v); vAt(p) += v }
        if (live) kv.foreach(_ => liveSched(p) += schedUs)
        total += msgs.size
      }
  }
  private var wins = Seq.empty[Win]
  private var attempts = 0
  private var staleDupKeys = 0L

  override def setup(windows: Int): Double = {
    // warm-up: one full-size backlog through the same pipeline, so the
    // measured drains find the code compiled and the heap grown
    val w0 = System.nanoTime()
    val warm = new Win(99)
    broker.createTopic(warm.topic, Partitions)
    (0 until Backlog / ChunkRecords).foreach(_ => warm.produce(ChunkRecords, -1, live = false))
    val q = start(warm)
    q.processAllAvailable()
    q.stop()
    GraftDoc.snapshot(spark, warm.table).agg(count(lit(1))).collect()
    val warmS = (System.nanoTime() - w0) / 1e9
    ctx.log(f"warm-up done ($warmS%.2f s)")

    // backlogs: `Drains` per window, each timed; set-up is the median
    val builds = (0 until windows * Drains).map { w =>
      val win = new Win(w)
      broker.createTopic(win.topic, Partitions)
      val t0 = System.nanoTime()
      (0 until Backlog / ChunkRecords).foreach(_ => win.produce(ChunkRecords, -1, live = false))
      (0 until Partitions).foreach(p => win.backlogEnd(p) = broker.endOffset(win.topic, p))
      wins :+= win
      (System.nanoTime() - t0) / 1e9
    }
    ctx.log(s"backlogs produced: ${builds.map(b => f"$b%.2f").mkString(" ")} s")
    warmS + Stats.median(builds)
  }

  private def start(win: Win): StreamingQuery = {
    val cfg = StreamSource.StreamConfig(referenceName = "perfbench", brokers = broker.bootstrapServers,
      topics = Seq(win.topic), initialOffset = "beginning", format = Some("avro"),
      avroSchemaJson = Some(AvroSchemaJson))
    DocumentSink.toDocuments(StreamSource.read(spark, cfg), "k").writeStream
      .format("graft-doc").outputMode("append")
      .option("checkpointLocation", win.checkpoint)
      .start(win.table)
  }

  /** The window's backlogs; the last one's query goes on into the live phase. */
  private def group(window: Int): Seq[Win] = wins.filter(_.w / Drains == window)

  /** Let the query finish what is available, stop it, and record which
    * micro-batch carried each version. */
  private def settle(win: Win): Seq[StreamingQueryProgress] = {
    win.query.processAllAvailable()
    val progress = win.query.recentProgress.toSeq.filter(_.numInputRows > 0)
    win.query.stop()
    win.batchOf = new Array[Int](win.total.toInt)
    progress.foreach { p =>
      val (s, e) = offsets(win, p)
      e.foreach { case (part, until) =>
        (s.getOrElse(part, 0L) until until).foreach(o =>
          win.batchOf(win.vAt(part)(o.toInt).toInt) = p.batchId.toInt)
      }
    }
    progress
  }

  private def offsets(win: Win, p: StreamingQueryProgress): (Map[Int, Long], Map[Int, Long]) =
    (Option(p.sources.head.startOffset).map(o => KafkaWireOffset.fromJson(o).offsets(win.topic))
      .getOrElse(Map.empty[Int, Long]),
      KafkaWireOffset.fromJson(p.sources.head.endOffset).offsets(win.topic))

  override def measure(window: Int): Map[String, Double] = {
    // phase 1: catch-up from the beginning of each backlog; a backlog
    // drains in its query's first micro-batch, whose trigger time excludes
    // the query's own start-up
    var catchMs = 0.0
    val rates = group(window).map { win =>
      val (_, ms) = ctx.timed("catch-up") {
        win.query = start(win)
        win.query.processAllAvailable()
      }
      catchMs += ms
      attempts += Backlog
      val first = win.query.recentProgress.find(_.numInputRows > 0).get
      if (win ne group(window).last) settle(win)
      first.numInputRows * 1000.0 / first.durationMs.get("triggerExecution").doubleValue()
    }
    val win = group(window).last
    // phase 2: open-loop live production at a fixed rate
    val liveS = math.max(MinLiveSeconds, ctx.seconds - catchMs / 1000)
    val chunks = (liveS * 1000 / ChunkMs).toInt
    val perChunk = LiveRate * ChunkMs / 1000
    var lateMs = 0.0 // how far the open-loop generator fell behind its schedule
    win.liveStartMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    (0 until chunks).foreach { j =>
      val due = t0 + j * ChunkMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      else lateMs = math.max(lateMs, -wait / 1e6)
      win.produce(perChunk, j * ChunkMs * 1000L, live = true)
      win.produced += ((System.currentTimeMillis().toDouble, win.total))
    }
    val progress = settle(win)
    attempts += chunks * perChunk

    val lat = ArrayBuffer.empty[Double]
    var lagMax = 0L
    progress.foreach { p =>
      val (s, e) = offsets(win, p)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").doubleValue()
      e.foreach { case (part, until) =>
        val from = math.max(s.getOrElse(part, 0L), win.backlogEnd(part))
        var o = from
        while (o < until) {
          lat += end - (win.liveStartMs + win.liveSched(part)((o - win.backlogEnd(part)).toInt) / 1000.0)
          o += 1
        }
      }
      if (end >= win.liveStartMs) {
        val producedBy = win.produced.takeWhile(_._1 <= end).lastOption.map(_._2)
          .getOrElse(Backlog.toLong)
        lagMax = math.max(lagMax, producedBy - e.values.sum)
      }
    }
    val (tailQ, tailV, n) = Stats.tail(lat.toSeq)
    val (rowsPerS, p50) = (Stats.median(rates), Stats.median(lat.toSeq))
    Map("op_p50_ms" -> p50, "op_mean_ms" -> lat.sum / lat.size,
      "rows_per_s" -> rowsPerS,
      "ingest_catchup_rows_per_s" -> rowsPerS,
      "ingest.catchup_rows_per_s_min" -> rates.min, "ingest.catchup_rows_per_s_max" -> rates.max,
      "ingest.catchup_wall_rows_per_s" -> rates.size * Backlog * 1000.0 / catchMs,
      "ingest_latency_p50_ms" -> p50,
      "ingest_latency_tail_ms" -> tailV,
      "ingest_latency_tail_pct" -> tailQ, "ingest_latency_samples" -> n.toDouble,
      "ingest.live_rate_rows_per_s" -> LiveRate.toDouble,
      "kafka.lag_rows_max" -> lagMax.toDouble,
      "ingest.generator_late_ms_max" -> lateMs)
  }

  override def layers(t: Trace, window: Int): Map[String, Double] = {
    val win = group(window).last
    val qid = win.query.id.toString
    val bs = t.batches.asScala.toSeq.filter(b => b.attrs("queryId") == qid &&
      b.attrs("rows").asInstanceOf[Long] > 0)
    def phase(k: String) = Stats.median(bs.map(_.attrs.getOrElse(k, 0.0).asInstanceOf[Double]))
    val bd = bs.map(t.breakdown)
    Map(
      "stream.batches" -> bs.size.toDouble,
      "stream.rows_per_batch_p50" -> Stats.median(bs.map(_.attrs("rows").asInstanceOf[Long].toDouble)),
      "stream.latest_offset_ms_p50" -> phase("latestOffset"),
      "stream.get_batch_ms_p50" -> phase("getBatch"),
      "stream.query_planning_ms_p50" -> phase("queryPlanning"),
      "stream.add_batch_ms_p50" -> phase("addBatch"),
      "stream.wal_commit_ms_p50" -> phase("walCommit"),
      "stream.trigger_ms_p50" -> phase("triggerExecution"),
      "ingest.jobs_per_batch" -> bd.map(_("jobs")).sum / bd.size,
      "ingest.between_jobs_ms_per_batch" -> bd.map(_("between_jobs_ms")).sum / bd.size,
      "ingest.bytes_written_per_user_byte" ->
        DocStore.dirBytes(win.table).toDouble / freshBytes(win.table)) ++ isolated(win)
  }

  /** Bytes of the table's live snapshot written once, fresh. */
  private def freshBytes(table: String): Double = {
    val p = s"${ctx.work}/wire_ingest/fresh"
    GraftDoc.write(GraftDoc.snapshot(spark, table), "_id", p, overwrite = true)
    DocStore.dirBytes(p).toDouble
  }

  /** Each layer timed on its own, outside the streaming query: the wire
    * fetch over the backlog, the Avro decode of a cached wire frame, and
    * the graft-doc write of the cached decoded rows. */
  private def isolated(win: Win): Map[String, Double] = {
    val c = new KafkaWireClient("127.0.0.1", broker.port, "perfbench-fetch")
    val raw = ArrayBuffer.empty[Row]
    var bytes = 0L
    val t0 = System.nanoTime()
    (0 until Partitions).foreach { p =>
      var off = 0L
      while (off < win.backlogEnd(p)) {
        val (_, msgs) = c.fetch(win.topic, p, off)
        msgs.foreach { m =>
          bytes += m.key.length + m.value.length
          raw += Row(m.key, m.value, win.topic, p, m.offset, new java.sql.Timestamp(0L), 0)
        }
        off = msgs.last.offset + 1
      }
    }
    val fetchS = (System.nanoTime() - t0) / 1e9
    c.close()
    val frame = spark.createDataFrame(raw.asJava, StreamSource.wireSchema)
      .select("key", "topic", "partition", "offset", "timestamp", "value").cache()
    val rows = frame.count().toDouble
    def best(f: => Unit): Double = (1 to 3).map { _ =>
      val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e9
    }.min
    def decoded: DataFrame =
      Decoders.decode(frame, format = Some("avro"), avroSchema = Some(AvroSchemaJson))
    val decodeS = best(decoded.write.format("noop").mode("overwrite").save())
    val docs = decoded.cache()
    docs.count()
    val sinkPath = s"${ctx.work}/wire_ingest/sink_probe"
    val writeS = best(GraftDoc.write(docs, "k", sinkPath, overwrite = true))
    docs.unpersist(); frame.unpersist()
    Map("kafka.fetch_rows_per_s" -> raw.size / fetchS,
      "kafka.fetch_bytes_per_s" -> bytes / fetchS,
      "decode.avro_rows_per_s" -> rows / decodeS,
      "sink.doc_write_rows_per_s" -> rows / writeS)
  }

  /** Final snapshot vs the generator's key -> latest-v model, per window:
    * same key set, no duplicate `_id`. A micro-batch may carry several
    * versions of one key; the connector documents that the snapshot then
    * picks any of that commit's versions, so a key's value must come from
    * the micro-batch that holds its latest version (the micro-batch of
    * every version is known from the query's progress offsets). Values
    * that are such a same-batch older version are counted, not failed. */
  override def check(): Seq[String] = {
    val problems = ArrayBuffer.empty[String]
    wins.foreach { win =>
      val rows = GraftDoc.snapshot(spark, win.table)
        .select(col("_id").cast("long"), col("v")).collect()
      val seen = new java.util.HashSet[Long]()
      var bad = 0L
      rows.foreach { r =>
        val (k, sv) = (r.getLong(0), r.getLong(1))
        val want = win.latest.getOrDefault(k, -1L)
        if (!seen.add(k)) bad += 1 // a duplicate _id
        else if (want < 0 || win.batchOf(sv.toInt) != win.batchOf(want.toInt)) bad += 1
        else if (sv != want) staleDupKeys += 1
      }
      if (rows.length != win.latest.size)
        problems += s"${win.topic}: ${rows.length} snapshot rows, model has ${win.latest.size} keys"
      if (bad > 0) problems += s"${win.topic}: $bad keys differ from the model"
      ctx.log(s"${win.topic}: snapshot checked")
      // the produced stream is a function of the seed alone
      val again = new Win(win.w)
      (0 until Backlog / ChunkRecords).foreach(_ => again.gen.chunk(ChunkRecords, -1))
      val chunks = win.liveSched.map(_.size).sum / (LiveRate * ChunkMs / 1000)
      (0 until chunks).foreach(j => again.gen.chunk(LiveRate * ChunkMs / 1000, j * ChunkMs * 1000L))
      if (again.gen.hex != win.gen.hex)
        problems += s"${win.topic}: produced stream is not byte-identical for the same seed"
      ctx.log(s"${win.topic}: stream regenerated")
    }
    client.close()
    broker.close()
    problems.toList
  }

  override def attempted: Int = attempts
  override def failed: Int = 0
  override def notes: Map[String, Any] = Map(
    "ingest.stale_dup_keys" -> staleDupKeys,
    "ingest.stream_sha256" -> wins.map(_.gen.hex).mkString(","))
}

object WireIngest {
  val Keys = 500000
  val Partitions = 4
  val Backlog = 400000
  val ChunkRecords = 4000
  val LiveRate = 50000
  val ChunkMs = 10
  val MinLiveSeconds = 10.0
  val Drains = 3
  val Kinds = Array("view", "cart", "buy", "return")

  val AvroSchemaJson: String =
    """{"type":"record","name":"event","fields":[
      |{"name":"k","type":"long"},{"name":"v","type":"long"},
      |{"name":"sched_us","type":"long"},{"name":"amount","type":"double"},
      |{"name":"kind","type":"string"}]}""".stripMargin
  lazy val AvroSchema: Schema = new Schema.Parser().parse(AvroSchemaJson)

  /** Unnormalised Zipf(s = 1) cumulative weights over ranks 1..Keys. */
  lazy val ZipfCdf: Array[Double] = {
    val a = new Array[Double](Keys)
    var acc = 0.0
    var i = 0
    while (i < Keys) { acc += 1.0 / (i + 1); a(i) = acc; i += 1 }
    a
  }
}
