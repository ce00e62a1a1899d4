package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.connector.{GraftDoc, GraftDocColStat, GraftDocFileStat, GraftDocLog, GraftDocScan, GraftDocWriteBuilder}

/** DSv2 keyed-document connector (`format("graft-doc")`): upsert-by-`_id`,
  * commit log, streaming epoch idempotence, column pruning, compaction.
  * Reference parity: `MapRDBJSONSink.java:96,102-146` (keyed put = upsert;
  * at-least-once source → exactly-once table contents). */
class GraftDocConnectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_doc_tbl").toString

  /** Runs `f` with `spark.sql.shuffle.partitions` at `n`: a table `f`
    * creates is bucketed B = n, and appends keep that B. */
  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f
    finally spark.conf.set(key, prev)
  }

  test("batch write + read roundtrip through format(graft-doc)") {
    val dir = tmp()
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "v")
    GraftDoc.write(df, "k", dir)
    val back = spark.read.format("graft-doc").load(dir)
    assert(back.columns.toSeq == Seq("_id", "name", "v", "_commit"))
    assert(back.count() == 2)
    assert(back.orderBy("_id").select("name").as[String].collect().toSeq == Seq("a", "b"))
  }

  test("re-written _ids dedupe: snapshot keeps the latest version") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "old"), (2L, "keep")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((1L, "new"), (3L, "add")).toDF("k", "name"), "k", dir)
    // log holds every version; snapshot resolves the upsert
    assert(GraftDoc.log(spark, dir).count() == 4)
    val snap = GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id", "name").as[(String, String)].collect().toSeq
    assert(snap == Seq("1" -> "new", "2" -> "keep", "3" -> "add"))
  }

  test("overwrite truncates the log") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((9L, "z")).toDF("k", "name"), "k", dir, overwrite = true)
    assert(GraftDoc.log(spark, dir).select("_id").as[String].collect().toSeq == Seq("9"))
  }

  test("write schema without leading _id string is rejected (W3 validation)") {
    val dir = tmp()
    val e = intercept[Exception] {
      Seq((1L, "a")).toDF("k", "name").write.format("graft-doc")
        .mode("append").save(dir)
    }
    assert(e.getMessage.contains("_id"))
  }

  test("column pruning reaches the scan (only requested doc fields parsed)") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a", 10.0)).toDF("k", "name", "v"), "k", dir)
    val pruned = spark.read.format("graft-doc").load(dir).select("name")
    // physical read schema must be just `name` — no _id, v, or _commit
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("name"))
    assert(pruned.as[String].collect().toSeq == Seq("a"))
  }

  test("streaming epoch commit is idempotent per (queryId, epochId)") {
    val dir = tmp()
    val docSchema = StructType(Seq(
      StructField("_id", StringType), StructField("n", LongType)))
    def streamingWrite(qid: String) = {
      val info = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
        override def queryId(): String = qid
        override def schema(): StructType = docSchema
      }
      new GraftDocWriteBuilder(info, dir).build().toStreaming
    }
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }

    def writeEpoch(w: org.apache.spark.sql.connector.write.streaming.StreamingWrite,
        epoch: Long, id: String): Unit = {
      val task = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, epoch)
      task.write(InternalRow(UTF8String.fromString(id), 1L))
      val msg = task.commit()
      w.commit(epoch, Array(msg))
    }

    val w = streamingWrite("query-A")
    writeEpoch(w, 0L, "a")
    writeEpoch(w, 1L, "b")
    // replay of epoch 1 (at-least-once source): must be a no-op
    writeEpoch(w, 1L, "b")
    assert(GraftDoc.log(spark, dir).count() == 2)
    // a different query's epoch 1 is NOT deduped (idempotence is per query)
    writeEpoch(streamingWrite("query-B"), 1L, "c")
    assert(GraftDoc.log(spark, dir).count() == 3)
  }

  test("end-to-end writeStream format(graft-doc) with AvailableNow") {
    val dir = tmp()
    val src = tmp()
    val ckpt = tmp()
    Seq((1L, "x"), (2L, "y")).toDF("k", "name").write.parquet(s"$src/in")
    val stream = spark.readStream
      .schema(StructType(Seq(StructField("k", LongType), StructField("name", StringType))))
      .parquet(s"$src/in")
    GraftDoc.writeStream(stream, "k", dir, ckpt).awaitTermination()
    assert(GraftDoc.snapshot(spark, dir).count() == 2)
    // restart from the same checkpoint with no new data: no new commits
    val before = GraftDocLog.latestCommitSeq(dir)
    GraftDoc.writeStream(spark.readStream
      .schema(StructType(Seq(StructField("k", LongType), StructField("name", StringType))))
      .parquet(s"$src/in"), "k", dir, ckpt).awaitTermination()
    assert(GraftDocLog.latestCommitSeq(dir) == before)
  }

  test("compact folds history into one base commit; snapshot unchanged") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "v1"), (2L, "b")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((1L, "v2")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((2L, "b2"), (3L, "c")).toDF("k", "name"), "k", dir)
    val want = GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id", "name").as[(String, String)].collect().toSeq
    GraftDoc.compact(spark, dir)
    val got = GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id", "name").as[(String, String)].collect().toSeq
    assert(got == want)
    // history folded: the log now holds exactly the live documents
    assert(GraftDoc.log(spark, dir).count() == 3)
  }

  test("append with a different schema is rejected; overwrite redefines") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    val e = intercept[Exception] {
      GraftDoc.write(Seq((2L, 5.0)).toDF("k", "score"), "k", dir)
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    // the failed append must not have committed anything
    assert(GraftDoc.log(spark, dir).count() == 1)
    // overwrite legitimately redefines the table schema
    GraftDoc.write(Seq((2L, 5.0)).toDF("k", "score"), "k", dir, overwrite = true)
    assert(GraftDoc.log(spark, dir).columns.toSeq ==
      Seq("_id", "score", "_commit"))
  }

  test("nulls omitted from stored documents (reference :131 null guard)") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, Some("x")), (2L, None)).toDF("k", "name"), "k", dir)
    val files = GraftDocLog.listCommitFiles(dir).map(_._2)
    val lines = files.flatMap(f => scala.io.Source.fromFile(
      f.stripPrefix("file:")).getLines()).sorted
    assert(lines == Seq("""{"_id":"1","name":"x"}""", """{"_id":"2"}"""))
  }

  // -------------------------------------------------- round-3 scale items

  // descends into adaptive plans and their query stages
  private object Plans
      extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  private def batchScan(df: org.apache.spark.sql.DataFrame) =
    Plans.collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.head

  test("point _id read prunes to the files whose manifest range can match") {
    val dir = tmp()
    // three single-file commits with disjoint _id ranges (manifest min/max)
    // in a one-bucket table
    withShufflePartitions(1) {
      GraftDoc.write(Seq((100L, "a"), (199L, "b")).toDF("k", "name").coalesce(1), "k", dir)
      GraftDoc.write(Seq((200L, "c"), (299L, "d")).toDF("k", "name").coalesce(1), "k", dir)
      GraftDoc.write(Seq((300L, "e"), (399L, "f")).toDF("k", "name").coalesce(1), "k", dir)
    }
    val all = spark.read.format("graft-doc").load(dir)
    assert(batchScan(all).inputPartitions.length == 3)

    val point = all.filter(col("_id") === "250")
    val scan = batchScan(point)
    // pushed filter is visible in the scan and prunes to a strict subset
    assert(scan.scan.asInstanceOf[GraftDocScan].description()
      .contains("EqualTo(_id,250)"))
    assert(scan.inputPartitions.length == 1,
      s"expected 1 surviving file, got ${scan.inputPartitions.length}")
    assert(point.select("name").as[String].collect().isEmpty) // 250 not present
    assert(all.filter(col("_id") === "299").select("name").as[String]
      .collect().toSeq == Seq("d"))
  }

  test("_id prefix scan prunes by manifest range (key-prefix read)") {
    val dir = tmp()
    withShufflePartitions(1) { // one bucket: one file per commit
      GraftDoc.write(Seq((100L, "a"), (199L, "b")).toDF("k", "name").coalesce(1), "k", dir)
      GraftDoc.write(Seq((200L, "c"), (299L, "d")).toDF("k", "name").coalesce(1), "k", dir)
      GraftDoc.write(Seq((300L, "e"), (399L, "f")).toDF("k", "name").coalesce(1), "k", dir)
    }
    val pre = spark.read.format("graft-doc").load(dir)
      .filter(col("_id").startsWith("2"))
    assert(batchScan(pre).inputPartitions.length == 1,
      s"prefix scan should touch 1 file, got ${batchScan(pre).inputPartitions.length}")
    assert(pre.select("name").as[String].collect().toSet == Set("c", "d"))
  }

  test("payload-column predicates prune files via declared statsColumns min/max") {
    val dir = tmp()
    // three single-file commits with disjoint lang AND n_chars ranges;
    // the writer declares both columns, so each manifest entry carries
    // their per-file min/max (string order for lang, long for n_chars);
    // one bucket, so one file per commit
    def put(rows: Seq[(Long, String, Long)]): Unit =
      GraftDoc.write(rows.toDF("k", "lang", "n_chars").coalesce(1), "k", dir,
        statsColumns = Seq("lang", "n_chars"))
    withShufflePartitions(1) {
      put(Seq((1L, "de", 10L), (2L, "en", 20L)))
      put(Seq((3L, "es", 30L), (4L, "fr", 40L)))
      put(Seq((5L, "ja", 50L), (6L, "zh", 60L)))
    }
    val all = spark.read.format("graft-doc").load(dir)
    assert(batchScan(all).inputPartitions.length == 3)

    // string equality: only the file whose [min,max] covers 'es' survives
    val es = all.filter(col("lang") === "es")
    val esScan = batchScan(es)
    assert(esScan.scan.asInstanceOf[GraftDocScan].description()
      .contains("EqualTo(lang,es)"), "payload filter must surface as pushed")
    assert(esScan.inputPartitions.length == 1,
      s"expected 1 surviving file, got ${esScan.inputPartitions.length}")
    assert(es.select("_id").as[String].collect().toSeq == Seq("3"))

    // long range: n_chars > 45 keeps only the third file
    val big = all.filter(col("n_chars") > 45L)
    assert(batchScan(big).inputPartitions.length == 1)
    assert(big.select("_id").as[String].collect().sorted.toSeq == Seq("5", "6"))

    // In() prunes to the union of matching files
    val in2 = all.filter(col("lang").isin("de", "zh"))
    assert(batchScan(in2).inputPartitions.length == 2)
    assert(in2.count() == 2)

    // conjunction across columns prunes to the intersection (empty here:
    // the 'es' file's n_chars stop at 40)
    val none = all.filter(col("lang") === "es" && col("n_chars") > 45L)
    assert(batchScan(none).inputPartitions.isEmpty)
    assert(none.count() == 0)
  }

  test("payload predicates on undeclared columns never prune (and stay correct)") {
    val dir = tmp()
    // no statsColumns declared: manifests carry only _id ranges, so a
    // payload predicate must pass every file — pruning is advisory, the
    // residual filter does the semantic work (one bucket: one file a commit)
    withShufflePartitions(1) {
      GraftDoc.write(Seq((1L, "de"), (2L, "en")).toDF("k", "lang").coalesce(1), "k", dir)
      GraftDoc.write(Seq((3L, "es"), (4L, "fr")).toDF("k", "lang").coalesce(1), "k", dir)
    }
    val q = spark.read.format("graft-doc").load(dir).filter(col("lang") === "es")
    assert(batchScan(q).inputPartitions.length == 2,
      "without recorded stats every file must survive planning")
    assert(q.select("_id").as[String].collect().toSeq == Seq("3"))
  }

  test("_commit predicate skips whole commits at planning time") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "v1")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((1L, "v2")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((1L, "v3")).toDF("k", "name"), "k", dir)
    val df = spark.read.format("graft-doc").load(dir)
      .filter(col("_commit") >= 3)
    assert(batchScan(df).inputPartitions.length == 1)
    assert(df.select("name").as[String].collect().toSeq == Seq("v3"))
  }

  test("size-based split planning parallelizes one large commit file") {
    val dir = tmp()
    val df = spark.range(1000).select(col("id").as("k"),
      concat(lit("name_"), col("id")).as("name"))
    // one task, one bucket → one large-ish file
    withShufflePartitions(1)(GraftDoc.write(df, "k", dir))
    val whole = spark.read.format("graft-doc").load(dir)
    val split = spark.read.format("graft-doc")
      .option(GraftDocLog.MaxSplitBytesOpt, "2048").load(dir)
    assert(batchScan(split).inputPartitions.length > 5,
      s"expected many byte-range splits, got ${batchScan(split).inputPartitions.length}")
    // exactly-once line ownership across split boundaries
    assert(split.count() == 1000)
    assert(split.select("_id").distinct().count() == 1000)
    assert(split.agg(sum(col("_id").cast("long"))).as[Long].head() ==
      whole.agg(sum(col("_id").cast("long"))).as[Long].head())
  }

  test("RangeLineReader: exactly-once lines for every split size and boundary") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    // lines of assorted lengths (incl. 1-char and long) — every byte
    // offset becomes a split boundary for some split size below
    val lines = Seq("a", "bb", "", "ccccccccccccccccccccccccc", "dd", "e",
      "ffffffff", "g" * 100, "hh")
    val f = java.nio.file.Files.createTempFile("graft_rlr", ".jsonl")
    java.nio.file.Files.writeString(f, lines.mkString("", "\n", "\n"))
    val p = new Path(f.toUri)
    val fs = p.getFileSystem(new Configuration())
    val total = fs.getFileStatus(p).getLen
    for (split <- Seq(1L, 2L, 3L, 5L, 7L, 11L, 16L, 33L, 64L, total)) {
      val got = (0L until (total + split - 1) / split).flatMap { i =>
        val r = new graft.connector.RangeLineReader(
          fs.open(p), i * split, math.min(split, total - i * split))
        // each line is decoded before the next nextLine() reuses the buffer
        try Iterator.continually(r.nextLine()).takeWhile(_ >= 0)
          .map(n => new String(r.bytes, 0, n, java.nio.charset.StandardCharsets.UTF_8))
          .toList
        finally r.close()
      }
      assert(got == lines, s"split=$split: $got")
    }
  }

  test("epoch replay check is O(1): no manifest reads with a current watermark") {
    val dir = tmp()
    val docSchema = StructType(Seq(
      StructField("_id", StringType), StructField("n", LongType)))
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
      override def queryId(): String = "query-flat"
      override def schema(): StructType = docSchema
    }
    val w = new GraftDocWriteBuilder(info, dir).build().toStreaming
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    GraftDocLog.fallbackManifestReads.set(0L)
    (0L until 20L).foreach { epoch =>
      val task = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, epoch)
      task.write(InternalRow(UTF8String.fromString(s"id$epoch"), epoch))
      w.commit(epoch, Array(task.commit()))
    }
    // 20 epochs → 20 commits; the replay check never re-read old manifests
    assert(GraftDocLog.fallbackManifestReads.get() == 0L,
      s"commit path read ${GraftDocLog.fallbackManifestReads.get()} manifests — not O(1)")
    assert(GraftDoc.log(spark, dir).count() == 20)
    // replay of an old epoch: O(1) high-watermark hit, no new commit
    val task = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, 5L)
    task.write(InternalRow(UTF8String.fromString("id5"), 5L))
    w.commit(5L, Array(task.commit()))
    assert(GraftDoc.log(spark, dir).count() == 20)
    assert(GraftDocLog.fallbackManifestReads.get() == 0L)
  }

  test("crash window: missing watermark file falls back to manifests and repairs") {
    val dir = tmp()
    val docSchema = StructType(Seq(
      StructField("_id", StringType), StructField("n", LongType)))
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
      override def queryId(): String = "query-crash"
      override def schema(): StructType = docSchema
    }
    val w = new GraftDocWriteBuilder(info, dir).build().toStreaming
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def epoch(e: Long): Unit = {
      val t = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, e)
      t.write(InternalRow(UTF8String.fromString(s"id$e"), e))
      w.commit(e, Array(t.commit()))
    }
    epoch(0L); epoch(1L)
    // simulate a crash between commit rename and watermark update
    import java.nio.file.{Files => JFiles, Paths}
    val hw = Paths.get(dir, "_epochs")
    JFiles.list(hw).forEach(p => JFiles.delete(p))
    // replay of epoch 1 must still be detected (manifest fallback)...
    epoch(1L)
    assert(GraftDoc.log(spark, dir).count() == 2)
    // ...and the watermark is repaired: the next replay is O(1) again
    GraftDocLog.fallbackManifestReads.set(0L)
    epoch(1L)
    assert(GraftDocLog.fallbackManifestReads.get() == 0L)
    assert(GraftDoc.log(spark, dir).count() == 2)
  }

  test("streaming replay protection survives compaction (_epochs outlives manifests)") {
    val dir = tmp()
    val docSchema = StructType(Seq(
      StructField("_id", StringType), StructField("n", LongType)))
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
      override def queryId(): String = "query-compact"
      override def schema(): StructType = docSchema
    }
    val w = new GraftDocWriteBuilder(info, dir).build().toStreaming
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def epoch(e: Long): Unit = {
      val t = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, e)
      t.write(InternalRow(UTF8String.fromString(s"id$e"), e))
      w.commit(e, Array(t.commit()))
    }
    epoch(0L); epoch(1L); epoch(2L)
    GraftDoc.compact(spark, dir) // folds the three epoch manifests away
    val before = GraftDoc.snapshot(spark, dir).count()
    epoch(2L) // replayed micro-batch AFTER compaction: must still no-op
    assert(GraftDocLog.latestCommitSeq(dir) == 4) // 3 epochs + base, no 5th
    assert(GraftDoc.snapshot(spark, dir).count() == before)
  }

  test("readStream format(graft-doc): incremental CDC mirrored into a second table") {
    val src = tmp()
    val dst = tmp()
    val ckpt = tmp()
    GraftDoc.write(Seq((1L, "a"), (2L, "b")).toDF("k", "name"), "k", src) // seq 1
    GraftDoc.write(Seq((3L, "c")).toDF("k", "name"), "k", src)            // seq 2
    GraftDoc.write(Seq((4L, "d"), (1L, "a2")).toDF("k", "name"), "k", src) // seq 3

    // CDC source → keyed document sink: the reference's source+sink pair
    // closed over our own connector in both roles. Upsert-by-_id on the
    // mirror reproduces the source's snapshot exactly.
    def drain(): Long = {
      val q = GraftDoc.readStream(spark, src, maxCommitsPerTrigger = Some(1L))
        .select(col("_id"), col("name"))
        .writeStream.format("graft-doc")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
      q.recentProgress.count(_.numInputRows > 0)
    }
    // one commit per micro-batch: three data batches, all versions moved
    assert(drain() == 3)
    assert(GraftDoc.log(spark, dst).count() == 5) // every version, exactly once
    def snap(p: String) = GraftDoc.snapshot(spark, p).orderBy("_id")
      .select("_id", "name").as[(String, String)].collect().toSeq
    assert(snap(dst) == snap(src))
    assert(snap(dst) == Seq("1" -> "a2", "2" -> "b", "3" -> "c", "4" -> "d"))

    // restart from the same checkpoint: nothing new → no data batches
    assert(drain() == 0)
    assert(GraftDoc.log(spark, dst).count() == 5)
    // a new commit after restart is picked up incrementally, exactly once
    GraftDoc.write(Seq((5L, "e")).toDF("k", "name"), "k", src) // seq 4
    assert(drain() == 1)
    assert(GraftDoc.log(spark, dst).count() == 6)
    assert(snap(dst) == snap(src))
  }

  test("CDC drain across an additive evolution: old-schema stream keeps flowing, restart surfaces the union") {
    val src = tmp()
    val ckpt = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", src)
    // continuous reader whose schema was inferred BEFORE the evolution:
    // Structured Streaming fixes a query's analyzed schema at start (a
    // Spark architecture invariant, not a connector choice), so the test
    // pins what CAN hold mid-stream: post-evolution documents flow
    // through the old projection without restart or error — the stored
    // docs carry an extra JSON key the parser skips — and nothing stalls
    // or drops.
    val q = GraftDoc.readStream(spark, src)
      .select(col("_id"), col("name"))
      .writeStream.format("memory").queryName("cdc_evo")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_evo").count() == 1)
      // additive evolution lands while the stream runs...
      GraftDoc.write(Seq((2L, "b", 7.5)).toDF("k", "name", "score"), "k", src)
      q.processAllAvailable()
      // ...and the running old-schema drain surfaces the new document
      assert(spark.table("cdc_evo").orderBy("_id")
        .select("_id", "name").as[(String, String)].collect().toSeq ==
        Seq("1" -> "a", "2" -> "b"))
    } finally {
      q.stop()
      spark.catalog.dropTempView("cdc_evo")
    }
    // a restarted reader infers the UNION schema and reads null for the
    // pre-evolution document's new column — the documented restart path
    val q2 = GraftDoc.readStream(spark, src)
      .select(col("_id"), col("name"), col("score"))
      .writeStream.format("memory").queryName("cdc_evo2")
      .outputMode("append")
      .option("checkpointLocation", tmp())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    try {
      assert(spark.table("cdc_evo2").orderBy("_id")
        .select("_id", "name", "score")
        .as[(String, String, Option[Double])].collect().toSeq ==
        Seq(("1", "a", None), ("2", "b", Some(7.5))))
    } finally spark.catalog.dropTempView("cdc_evo2")
  }

  test("stream-static join: snapshot() static side is point-in-time PINNED; liveView() refreshes mid-stream") {
    // The dimension-refresh question every streaming pipeline hits, both
    // answers pinned as contract:
    //  - snapshot() bakes `_commit <= asOf` + the tombstone set as plan
    //    LITERALS at construction (W1f point-in-time isolation), so as a
    //    static side it is deliberately FROZEN — a dimension update
    //    landing mid-stream never changes later micro-batches;
    //  - liveView() resolves recency/deletes entirely in-plan, and DSv2
    //    batch scans re-plan per micro-batch, so later batches DO see
    //    dimension commits landing while the stream runs.
    val dim = tmp()
    val src = tmp()
    GraftDoc.write(Seq((1L, "bronze")).toDF("k", "tier"), "k", dim)
    GraftDoc.write(Seq((100L, 1L)).toDF("k", "user"), "k", src) // event 1
    def drainWith(dimDf: org.apache.spark.sql.DataFrame, name: String,
        midStreamEventId: Long): Map[String, Option[String]] = {
      val q = GraftDoc.readStream(spark, src)
        .select(col("_id").as("event_id"), col("user").cast("string").as("user_key"))
        .join(dimDf, Seq("user_key"), "left")
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tmp())
        .start()
      try {
        q.processAllAvailable()
        // dimension UPDATE + a fresh event, both while the stream runs
        GraftDoc.write(Seq((1L, "gold")).toDF("k", "tier"), "k", dim)
        GraftDoc.write(Seq((midStreamEventId, 1L)).toDF("k", "user"), "k", src)
        q.processAllAvailable()
        spark.table(name)
          .select("event_id", "tier").as[(String, Option[String])]
          .collect().toMap
      } finally { q.stop(); spark.catalog.dropTempView(name) }
    }
    val pinned = drainWith(GraftDoc.snapshot(spark, dim)
      .select(col("_id").as("user_key"), col("tier")), "dimpin", 201L)
    // snapshot(): every event joins the tier recorded when the frame was
    // BUILT — the mid-stream 'gold' upsert is invisible (repeatable read)
    assert(pinned("100").contains("bronze") && pinned("201").contains("bronze"),
      s"snapshot() static side must stay pinned: $pinned")
    // reset the dimension for the live variant's first batch
    GraftDoc.write(Seq((1L, "bronze")).toDF("k", "tier"), "k", dim)
    val live = drainWith(GraftDoc.liveView(spark, dim)
      .select(col("_id").as("user_key"), col("tier")), "dimliv", 301L)
    // batch 1 (events 100+201 replayed fresh) joined bronze; the
    // mid-stream event joined the refreshed gold
    assert(live("100").contains("bronze") && live("301").contains("gold"),
      s"liveView() static side must refresh mid-stream: $live")
  }

  test("tombstone delete: snapshot excludes, re-insert resurrects, compact purges bytes") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name"), "k", dir)
    GraftDoc.delete(spark, dir, Seq(2L).toDF("k"))
    assert(GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id").as[String].collect().toSeq == Seq("1", "3"))
    // log still shows the tombstone version (null body, later commit)
    assert(GraftDoc.log(spark, dir).count() == 4)
    // a later re-insert of the deleted key wins over the tombstone
    GraftDoc.write(Seq((2L, "b2")).toDF("k", "name"), "k", dir)
    assert(GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id", "name").as[(String, String)].collect().toSeq ==
      Seq("1" -> "a", "2" -> "b2", "3" -> "c"))
    // delete again, then compact: the bytes are physically gone
    GraftDoc.delete(spark, dir, Seq(2L).toDF("k"))
    GraftDoc.compact(spark, dir)
    assert(GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id").as[String].collect().toSeq == Seq("1", "3"))
    val bytes = GraftDocLog.listCommitFiles(dir).map(_._2)
      .flatMap(f => scala.io.Source.fromFile(f.stripPrefix("file:")).getLines())
    assert(!bytes.exists(_.contains("b2")), s"purged value still on disk: $bytes")
    assert(GraftDoc.log(spark, dir).count() == 2) // base holds only live docs
  }

  test("v1 (pre-marker) tables are refused by path until overwritten") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name"), "k", dir)
    GraftDoc.delete(spark, dir, Seq(2L).toDF("k"))
    // rewrite the on-disk layout to version 1: drop the version marker and
    // strip the 't' from the tombstone commit's dir name, so the delete is
    // recorded only in its manifest — what a table written before the
    // dir-name flag looks like
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.deleteIfExists(root.resolve(GraftDocLog.FormatFile))
    java.nio.file.Files.deleteIfExists(root.resolve(s".${GraftDocLog.FormatFile}.crc"))
    val tombDir = java.nio.file.Files.list(root).iterator().asScala
      .find(p => p.getFileName.toString.matches("commit_[0-9]+t_.*"))
      .getOrElse(fail("expected a flagged tombstone commit dir"))
    java.nio.file.Files.move(tombDir,
      root.resolve(tombDir.getFileName.toString
        .replaceFirst("(commit_[0-9]+)t_", "$1_")))
    // read as version 2 the delete of key 2 would be lost: every read,
    // compaction and append fails, naming the table
    def refused(what: String)(f: => Any): Unit = {
      val e = intercept[Exception](f)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(m => m.contains(dir) && m.contains("version-1") &&
        m.contains("overwrite")), s"$what: $msgs")
    }
    refused("snapshot")(GraftDoc.snapshot(spark, dir).collect())
    refused("liveView")(GraftDoc.liveView(spark, dir).collect())
    refused("readStream") {
      val q = GraftDoc.readStream(spark, dir, withOp = true)
        .writeStream.format("memory").queryName("v1_refused")
        .option("checkpointLocation", tmp())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    refused("compact")(GraftDoc.compact(spark, dir))
    refused("append")(GraftDoc.write(Seq((4L, "d")).toDF("k", "name"), "k", dir))
    assert(!java.nio.file.Files.exists(root.resolve(GraftDocLog.FormatFile)))
    // a rewrite with overwrite stamps the marker and makes it readable
    GraftDoc.write(Seq((1L, "a"), (3L, "c")).toDF("k", "name"), "k", dir, overwrite = true)
    assert(java.nio.file.Files.exists(root.resolve(GraftDocLog.FormatFile)))
    assert(GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("_id").as[String].collect().toSeq == Seq("1", "3"))
    assert(rows(GraftDoc.liveView(spark, dir)) == Seq("1" -> "a", "3" -> "c"))
    GraftDoc.compact(spark, dir)
    assert(rows(GraftDoc.snapshot(spark, dir)) == Seq("1" -> "a", "3" -> "c"))
  }

  test("deleting from a non-existent table is rejected") {
    val e = intercept[Exception] {
      GraftDoc.delete(spark, tmp(), Seq(1L).toDF("k"))
    }
    assert(e.getMessage.contains("non-existent"), e.getMessage)
  }

  test("additive schema evolution: new nullable field appends; old docs read null") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    // append with an extra nullable column evolves the recorded schema
    GraftDoc.write(Seq((2L, "b", 7.5)).toDF("k", "name", "score"), "k", dir)
    val snap = GraftDoc.snapshot(spark, dir).orderBy("_id")
    assert(snap.columns.toSeq == Seq("_id", "name", "score"))
    val rows = snap.select("_id", "name", "score")
      .as[(String, String, Option[Double])].collect().toSeq
    assert(rows == Seq(("1", "a", None), ("2", "b", Some(7.5))))
    // dropping a recorded field is still rejected (not additive)
    val e = intercept[Exception] {
      GraftDoc.write(Seq((3L, 1.0)).toDF("k", "other"), "k", dir)
    }
    assert(e.getMessage.contains("additive"), e.getMessage)
    // type change on an existing field is rejected too
    val e2 = intercept[Exception] {
      GraftDoc.write(Seq((3L, 42L, 1.0)).toDF("k", "name", "score"), "k", dir)
    }
    assert(e2.getMessage.contains("additive"), e2.getMessage)
  }

  test("concurrent schema evolution: distinct columns from racing writers ALL survive") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    // Drive the CAS primitive directly from racing threads (the public
    // write path serializes in-JVM on the table lock, hiding the
    // cross-driver interleave): all four "writers" read the SAME base
    // schema, then publish concurrently — the round-4 two-winner race was
    // exactly two unions from the same base, last atomic rename dropping
    // the other's column. Append-only deltas make every column survive
    // regardless of interleave.
    val cols = Seq("c_w0" -> LongType, "c_w1" -> DoubleType,
      "c_w2" -> StringType, "c_w3" -> BooleanType)
    val gate = new java.util.concurrent.CyclicBarrier(cols.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = cols.map { case (n, t) => new Thread(() => {
      try { gate.await(); GraftDocLog.publishSchemaDelta(dir,
        Seq(StructField(n, t, nullable = true))) }
      catch { case e: Throwable => errs.add(e) }
    }) }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racing evolution threw: ${errs.peek()}")
    val recorded = GraftDocLog.readSchema(dir).get
    cols.foreach { case (n, t) =>
      assert(recorded.fields.exists(f => f.name == n && f.dataType == t),
        s"column $n lost by racing evolution; recorded=${recorded.simpleString}")
    }
    // and the table still reads: old doc yields null for every new column
    val snap = GraftDoc.snapshot(spark, dir)
    assert(cols.forall { case (n, _) => snap.columns.contains(n) })
    assert(snap.filter(col("c_w0").isNull && col("c_w2").isNull).count() == 1)
  }

  test("slot creation is atomic under a 16-thread stampede (local-FS TOCTOU regression)") {
    // Regression for a real flake: Hadoop's LOCAL create(overwrite=false)
    // is exists-check-then-open, so two racers could both pass the check
    // and the later open TRUNCATED the earlier winner's delta bytes —
    // the winner's publish loop saw its column folded (its in-memory
    // read happened before the clobber) and exited, losing the column.
    // 16 threads × distinct columns from one base makes that window easy
    // to hit without the NIO O_CREAT|O_EXCL claim; with it, every column
    // must survive every interleave.
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    val cols = (0 until 16).map(i => s"c_s$i" -> LongType)
    val gate = new java.util.concurrent.CyclicBarrier(cols.size)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = cols.map { case (n, t) => new Thread(() => {
      try { gate.await(); GraftDocLog.publishSchemaDelta(dir,
        Seq(StructField(n, t, nullable = true))) }
      catch { case e: Throwable => errs.add(e) }
    }) }
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"stampede threw: ${errs.peek()}")
    val recorded = GraftDocLog.readSchema(dir).get
    val lost = cols.collect {
      case (n, t) if !recorded.fields.exists(f => f.name == n && f.dataType == t) => n
    }
    assert(lost.isEmpty, s"columns lost by stampede: $lost; recorded=${recorded.simpleString}")
  }

  test("schema evolution via racing public writes: both columns recorded, data intact") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val t1 = new Thread(() => try GraftDoc.write(
      Seq((2L, "b", 7.5)).toDF("k", "name", "score"), "k", dir)
      catch { case e: Throwable => errs.add(e) })
    val t2 = new Thread(() => try GraftDoc.write(
      Seq((3L, "c", "en")).toDF("k", "name", "lang"), "k", dir)
      catch { case e: Throwable => errs.add(e) })
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(errs.isEmpty, s"concurrent evolving writes threw: ${errs.peek()}")
    val snap = GraftDoc.snapshot(spark, dir).orderBy("_id")
    assert(snap.columns.toSet == Set("_id", "name", "score", "lang"))
    assert(snap.count() == 3)
    assert(snap.filter(col("_id") === "2").select("score")
      .as[Option[Double]].head().contains(7.5))
    assert(snap.filter(col("_id") === "3").select("lang")
      .as[Option[String]].head().contains("en"))
  }

  test("schema delta protocol: slot collision, torn delta, late completion, type conflict") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    // a torn delta (crashed mid-write) occupies slot 1: readers skip it,
    // the next publisher takes slot 2 — the junk never blocks the log
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_schema_d000000001.json"),
      "{\"type\":\"str".getBytes) // truncated JSON
    GraftDocLog.publishSchemaDelta(dir,
      Seq(StructField("extra", LongType, nullable = true)))
    val rec1 = GraftDocLog.readSchema(dir).get
    assert(rec1.fieldNames.toSeq == Seq("_id", "name", "extra"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_schema_d000000002.json")),
      "publisher must skip the torn slot, not reuse it")
    // the "crashed" writer completes late: its column appears in the fold
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_schema_d000000001.json"),
      StructType(Seq(StructField("late", DoubleType, nullable = true)))
        .json.getBytes)
    val rec2 = GraftDocLog.readSchema(dir).get
    // fold order = slot order: the late slot-1 column sits before slot-2's
    assert(rec2.fieldNames.toSeq == Seq("_id", "name", "late", "extra"))
    // same column name, different type, from a racer = crisp conflict
    val e = intercept[IllegalArgumentException] {
      GraftDocLog.publishSchemaDelta(dir,
        Seq(StructField("late", StringType, nullable = true)))
    }
    assert(e.getMessage.contains("conflict"), e.getMessage)
    // overwrite truncates the evolution history along with the base
    GraftDoc.write(Seq((9L, "z")).toDF("k", "name"), "k", dir, overwrite = true)
    assert(GraftDocLog.readSchema(dir).get.fieldNames.toSeq == Seq("_id", "name"))
  }

  test("schema delta protocol: late-completing torn delta with a conflicting type fails at fold time") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    // writer A crashes mid-write on slot 1 (torn — invisible to checks)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_schema_d000000001.json"),
      "{\"type\":\"str".getBytes)
    // writer B publishes 'dup' as LONG in slot 2; its publish-time
    // conflict check cannot see the torn slot-1 delta — passes cleanly
    GraftDocLog.publishSchemaDelta(dir,
      Seq(StructField("dup", LongType, nullable = true)))
    // writer A completes LATE with 'dup' as STRING: slot order would put
    // it FIRST in the fold, retroactively retyping B's committed column.
    // The fold must refuse, not let slot order silently win.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_schema_d000000001.json"),
      StructType(Seq(StructField("dup", StringType, nullable = true)))
        .json.getBytes)
    val e = intercept[IllegalStateException] { GraftDocLog.readSchema(dir) }
    assert(e.getMessage.contains("retypes column 'dup'"), e.getMessage)
  }

  test("two concurrent writers both commit with distinct seqs") {
    val dir = tmp()
    GraftDoc.write(Seq((0L, "seed")).toDF("k", "name"), "k", dir)
    val t1 = new Thread(() =>
      GraftDoc.write(Seq((1L, "w1a"), (2L, "w1b")).toDF("k", "name"), "k", dir))
    val t2 = new Thread(() =>
      GraftDoc.write(Seq((3L, "w2a"), (4L, "w2b")).toDF("k", "name"), "k", dir))
    t1.start(); t2.start(); t1.join(); t2.join()
    val seqs = GraftDocLog.listCommitFiles(dir).map(_._1).distinct.sorted
    assert(seqs.size == 3, s"expected 3 distinct commit seqs, got $seqs")
    assert(GraftDoc.snapshot(spark, dir).count() == 5) // all rows survived
  }

  test("claim CAS: a seq claimed by another process forces re-seq, not corruption") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir) // seq 1
    // simulate a racing driver that claimed seq 2 but hasn't renamed yet
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "_claim_000000002"))
    GraftDoc.write(Seq((2L, "b")).toDF("k", "name"), "k", dir)
    // the writer lost the claim for 2 and landed at 3; nothing was lost
    assert(GraftDocLog.latestCommitSeq(dir) == 3)
    assert(GraftDoc.snapshot(spark, dir).orderBy("_id")
      .select("name").as[String].collect().toSeq == Seq("a", "b"))
  }

  test("successful commits release their claim markers (no unbounded root growth)") {
    val dir = tmp()
    (1 to 5).foreach(i => GraftDoc.write(Seq((i.toLong, s"v$i")).toDF("k", "name"), "k", dir))
    val claims = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_claim_"))
    assert(claims.isEmpty, s"stale claims: ${claims.map(_.getName).toSeq}")
  }

  test("reader offsets never advance past an in-flight claim (no skipped commits)") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir) // seq 1
    // in-flight writer: claim for seq 2 exists, commit dir not yet renamed
    val claim = java.nio.file.Paths.get(dir, "_claim_000000002")
    java.nio.file.Files.createFile(claim)
    GraftDoc.write(Seq((3L, "c")).toDF("k", "name"), "k", dir) // lands at seq 3
    // a reader must hold at seq 1: advancing to 3 would checkpoint past
    // the pending seq 2 and lose it forever
    assert(GraftDocLog.safeLatestSeq(dir, graceMs = 60000L) == 1L)
    // crashed writer: once the claim ages past the grace window its seq
    // can never fill, and readers step over the gap
    claim.toFile.setLastModified(System.currentTimeMillis() - 120000L)
    assert(GraftDocLog.safeLatestSeq(dir, graceMs = 60000L) == 3L)
  }

  // -------------------------------------------------- round-4 scale items

  test("snapshot planning is O(1): zero manifest reads over 50 epochs + deletes") {
    val dir = tmp()
    val docSchema = StructType(Seq(
      StructField("_id", StringType), StructField("n", LongType)))
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", dir))
      override def queryId(): String = "query-o1snap"
      override def schema(): StructType = docSchema
    }
    val w = new GraftDocWriteBuilder(info, dir).build().toStreaming
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    // 50 streaming epochs — the long-running-CDC-writer shape the round-3
    // verdict flagged: one commit per epoch, never compacted
    (0L until 50L).foreach { epoch =>
      val task = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, epoch)
      task.write(InternalRow(UTF8String.fromString(s"id$epoch"), epoch))
      w.commit(epoch, Array(task.commit()))
    }
    // plus tombstone commits in the middle of the history
    GraftDoc.delete(spark, dir, Seq(3L, 7L).map(i => s"id$i").toDF("id"))
    GraftDoc.delete(spark, dir, Seq(11L).map(i => s"id$i").toDF("id"))
    // snapshot planning + execution: tombstone discovery rides the commit
    // dir NAME (commit_<seq>t_<uuid>), so the whole read does ZERO
    // manifest reads — flat in #commits, the same O(1) treatment the
    // epoch watermark gives replay checks
    GraftDocLog.manifestReads.set(0L)
    val snap = GraftDoc.snapshot(spark, dir)
    val ids = snap.select("_id").as[String].collect().toSet
    assert(GraftDocLog.manifestReads.get() == 0L,
      s"snapshot read ${GraftDocLog.manifestReads.get()} manifests over 52 " +
        "commits — tombstone discovery is not O(1)")
    assert(ids.size == 47 && !ids.contains("id3") && !ids.contains("id7") &&
      !ids.contains("id11"))
  }

  test("writer fence: a stalled writer abandons its claim instead of landing late") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir) // seq 1
    val oldFence = GraftDocLog.writerFenceMs
    try {
      // fence at 50ms, inject a 300ms stall between claim win and rename —
      // the GC-pause / slow-object-store shape ADVICE flagged as the
      // skipped-forever hazard
      GraftDocLog.writerFenceMs = 50L
      GraftDocLog.postClaimStallMsForTest.set(300L)
      GraftDoc.write(Seq((2L, "b")).toDF("k", "name"), "k", dir)
      // the stalled attempt claimed seq 2, hit the fence, abandoned, and
      // re-seqed: the commit landed at 3, seq 2 is a dead claim
      assert(GraftDocLog.latestCommitSeq(dir) == 3L)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_claim_000000002")))
      // no data was lost to the fence — the write is fully present
      assert(GraftDoc.snapshot(spark, dir).orderBy("_id")
        .select("name").as[String].collect().toSeq == Seq("a", "b"))
      // reader side: the abandoned claim is young, so a CDC reader still
      // HOLDS at seq 1 (not stepped over before the grace bound) — by the
      // time the grace window passes, the fence guarantees no rename can
      // land on seq 2, so stepping over is then safe
      assert(GraftDocLog.safeLatestSeq(dir, GraftDocLog.DefaultClaimGraceMs) == 1L)
    } finally {
      GraftDocLog.writerFenceMs = oldFence
      GraftDocLog.postClaimStallMsForTest.set(0L)
    }
  }

  test("claim grace: a live claim inside the window is never stepped over") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir) // seq 1
    val claim = java.nio.file.Paths.get(dir, "_claim_000000002")
    java.nio.file.Files.createFile(claim)
    GraftDoc.write(Seq((3L, "c")).toDF("k", "name"), "k", dir) // seq 3
    // 2 minutes old: stale by the round-3 60s default, LIVE by the round-4
    // 5-minute default — the wider window absorbs writer stalls and
    // cross-machine clock skew (the ADVICE data-loss scenario)
    claim.toFile.setLastModified(System.currentTimeMillis() - 120000L)
    assert(GraftDocLog.safeLatestSeq(dir, GraftDocLog.DefaultClaimGraceMs) == 1L,
      "a claim inside the default grace window must hold the reader")
    // past the window it is a crashed writer and the reader advances
    claim.toFile.setLastModified(
      System.currentTimeMillis() - GraftDocLog.DefaultClaimGraceMs - 60000L)
    assert(GraftDocLog.safeLatestSeq(dir, GraftDocLog.DefaultClaimGraceMs) == 3L)
  }

  test("a later committer garbage-collects stale claims below its seq") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir) // seq 1
    // a crashed writer's leaked claim, well past the GC cutoff (6× the
    // grace window — the skew headroom that keeps GC from ever deleting a
    // LIVE writer's claim)
    val stale = java.nio.file.Paths.get(dir, "_claim_000000002")
    java.nio.file.Files.createFile(stale)
    stale.toFile.setLastModified(
      System.currentTimeMillis() - 6 * GraftDocLog.DefaultClaimGraceMs - 60000L)
    // next write loses seq 2 to the dead claim, lands at 3, then GCs it
    GraftDoc.write(Seq((2L, "b")).toDF("k", "name"), "k", dir)
    assert(GraftDocLog.latestCommitSeq(dir) == 3L)
    assert(!java.nio.file.Files.exists(stale),
      "stale claim below the committed seq should have been GC'd")
  }

  test("stress: concurrent writers + live snapshot readers, then maintenance") {
    val dir = tmp()
    // 4 writers, disjoint key ranges, 6 sequential commits each — every
    // commit seq is arbitrated through the claim-CAS path under real
    // thread contention; the last value per key is deterministic.
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // seed the table (schema + first commit) so readers never race the
    // table's very existence — only its contents
    GraftDoc.write(Seq((9999L, "seed")).toDF("k", "name"), "k", dir)
    val writers = (0 until 4).map { w =>
      new Thread(() => {
        try {
          for (r <- 0 until 6) {
            val rows = (0 until 10).map(i => (w * 1000L + i, s"w$w-r$r"))
            GraftDoc.write(rows.toDF("k", "name"), "k", dir)
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    // 2 readers snapshotting while writers commit: every read must be a
    // consistent point-in-time view — never a torn/failed plan, and every
    // surfaced value is one its key's writer actually committed
    val readers = (0 until 2).map { _ =>
      new Thread(() => {
        try {
          for (_ <- 0 until 8) {
            val rows = GraftDoc.snapshot(spark, dir)
              .select("_id", "name").as[(String, String)].collect()
            rows.foreach { case (id, v) =>
              if (id != "9999") {
                val w = id.toLong / 1000
                assert(v.matches(s"w$w-r[0-5]"), s"key $id holds foreign value $v")
              }
            }
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    (writers ++ readers).foreach(_.start())
    (writers ++ readers).foreach(_.join())
    assert(failures.isEmpty, s"concurrent ops failed: ${failures.peek()}")
    // quiescent: full last-write-wins state, 25 commits arbitrated cleanly
    assert(GraftDocLog.latestCommitSeq(dir) == 25L)
    def state(): Map[String, String] = GraftDoc.snapshot(spark, dir)
      .select("_id", "name").as[(String, String)].collect().toMap
    val expect = (for (w <- 0 until 4; i <- 0 until 10)
      yield s"${w * 1000 + i}" -> s"w$w-r5").toMap + ("9999" -> "seed")
    assert(state() == expect)
    // maintenance (single-writer model: run quiescent) folds the log and
    // preserves exactly that state
    GraftDoc.maintain(spark, dir, 1)
    assert(state() == expect)
    assert(GraftDocLog.liveCommitCount(dir) == 1)
  }

  test("CDC ReadLimit: maxRowsPerTrigger / maxFilesPerTrigger bound each batch") {
    val src = tmp()
    // four single-file commits of 2 rows each, in a one-bucket table
    withShufflePartitions(1) {
      (0 until 4).foreach { i =>
        GraftDoc.write(Seq((i * 2L, s"a$i"), (i * 2 + 1L, s"b$i"))
          .toDF("k", "name").coalesce(1), "k", src)
      }
    }
    def drainBatches(opts: Map[String, String]): Seq[Long] = {
      val ckpt = tmp()
      val r = spark.readStream.format("graft-doc")
      opts.foreach { case (k, v) => r.option(k, v) }
      val q = r.load(src)
        .writeStream.format("memory").queryName(s"rl_${ckpt.hashCode.abs}")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
    }
    // row budget 4 → two commits (2+2 rows) per batch → 2 data batches
    assert(drainBatches(Map(GraftDocLog.MaxRowsPerTriggerOpt -> "4")) ==
      Seq(4L, 4L))
    // file budget 1 → one commit (one file) per batch → 4 data batches
    assert(drainBatches(Map(GraftDocLog.MaxFilesPerTriggerOpt -> "1")) ==
      Seq(2L, 2L, 2L, 2L))
    // both: the tighter bound (files) wins through CompositeReadLimit
    assert(drainBatches(Map(GraftDocLog.MaxRowsPerTriggerOpt -> "100",
      GraftDocLog.MaxFilesPerTriggerOpt -> "1")) == Seq(2L, 2L, 2L, 2L))
  }

  test("autoCompactCommits: a streaming writer maintains its own table") {
    val dir = tmp()
    val docSchema = StructType(Seq(
      StructField("_id", StringType), StructField("n", LongType)))
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of(
          "path", dir, GraftDocLog.AutoCompactCommitsOpt, "5"))
      override def queryId(): String = "query-autocompact"
      override def schema(): StructType = docSchema
    }
    val w = new GraftDocWriteBuilder(info, dir).build().toStreaming
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    (0L until 12L).foreach { epoch =>
      val task = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, epoch)
      task.write(InternalRow(UTF8String.fromString(s"id$epoch"), epoch))
      w.commit(epoch, Array(task.commit()))
    }
    // without maintenance this table would hold 12 commits; inline
    // compaction keeps the live count bounded by the threshold (+1 for
    // the freshly-appended epoch that triggers the next fold)
    val live = GraftDocLog.liveCommitCount(dir)
    assert(live <= 6, s"auto-compaction left $live live commits")
    // nothing was lost across the folds
    assert(GraftDoc.snapshot(spark, dir).count() == 12)
    // replay protection survives the inline compactions (the _epochs
    // high-watermark lives outside the folded commit dirs)
    val task = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, 3L)
    task.write(InternalRow(UTF8String.fromString("id3"), 3L))
    w.commit(3L, Array(task.commit()))
    assert(GraftDoc.snapshot(spark, dir).count() == 12)
    // explicit maintenance API: folds when over budget, no-op when under
    assert(!GraftDoc.maintain(spark, dir, maxLiveCommits = 10))
    GraftDoc.write(Seq((100L, 1L), (101L, 2L)).toDF("k", "n"), "k", dir)
    GraftDoc.write(Seq((102L, 3L)).toDF("k", "n"), "k", dir)
    assert(GraftDoc.maintain(spark, dir, maxLiveCommits = 1))
    assert(GraftDocLog.liveCommitCount(dir) == 1)
    assert(GraftDoc.snapshot(spark, dir).count() == 15)
  }

  test("_op column: deletes surface as first-class CDC events") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a"), (2L, "b")).toDF("k", "name"), "k", dir)
    GraftDoc.delete(spark, dir, Seq(2L).toDF("k"))
    GraftDoc.write(Seq((3L, "c")).toDF("k", "name"), "k", dir)
    // batch shape: the option adds _op, decoded from the commit dir name
    val log = spark.read.format("graft-doc")
      .option(GraftDocLog.WithOpOpt, "true").load(dir)
    assert(log.columns.toSeq == Seq("_id", "name", "_commit", "_op"))
    val ops = log.select("_id", "_op").as[(String, String)].collect().toSet
    assert(ops == Set(("1", "insert"), ("2", "insert"), ("2", "delete"),
      ("3", "insert")))
    // streaming shape: same column through the CDC source
    val ckpt = tmp()
    val q = GraftDoc.readStream(spark, dir, withOp = true)
      .writeStream.format("memory").queryName("cdc_ops_unit")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val drained = spark.table("cdc_ops_unit")
      .select("_id", "_op").as[(String, String)].collect().toSet
    assert(drained == ops)
  }

  test("snapshot is a point-in-time view: concurrent delete cannot surface a phantom row") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a"), (2L, "b")).toDF("k", "name"), "k", dir)
    val snap = GraftDoc.snapshot(spark, dir) // plan pinned at seq 1
    GraftDoc.delete(spark, dir, Seq(2L).toDF("k")) // tombstone at seq 2
    // the pinned plan still sees the pre-delete world — both rows, no
    // null-body tombstone row
    val rows = snap.orderBy("_id").select("_id", "name")
      .as[(String, String)].collect().toSeq
    assert(rows == Seq("1" -> "a", "2" -> "b"))
    // a snapshot built after the delete sees it applied
    assert(GraftDoc.snapshot(spark, dir).select("_id").as[String]
      .collect().toSeq == Seq("1"))
  }

  // ------------------------------------------------ key-pinned point reads

  private def withBucketing[T](on: Boolean)(f: => T): T = {
    val key = "spark.sql.sources.v2.bucketing.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  private def lookup(dir: String, id: String): Seq[(String, String)] =
    GraftDoc.snapshot(spark, dir).filter(col("_id") === id)
      .select("_id", "name").as[(String, String)].collect().toSeq

  /** Jobs, tasks and records read by the Spark jobs `f` runs. */
  private def counted(f: => Unit): (Int, Int, Long) = {
    import org.apache.spark.scheduler._
    val group = s"graft-doc-count-${java.util.UUID.randomUUID()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "graft-doc lookup count")
    try {
      f
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (jobs.get(), tasks.get(), records.get())
  }

  /** Keys 1..40 over four files, then: 3 rewritten twice, 5 deleted, 7
    * deleted and re-inserted. */
  private def historyTable(): String = {
    val dir = tmp()
    GraftDoc.write(spark.range(1, 41).select(col("id").as("k"),
      concat(lit("v1_"), col("id")).as("name")).repartition(4), "k", dir)
    GraftDoc.write(Seq((3L, "v2_3"), (8L, "v2_8")).toDF("k", "name"), "k", dir)
    GraftDoc.write(Seq((3L, "v3_3")).toDF("k", "name"), "k", dir)
    GraftDoc.delete(spark, dir, Seq(5L, 7L).toDF("k"))
    GraftDoc.write(Seq((7L, "v4_7")).toDF("k", "name"), "k", dir)
    dir
  }

  test("non-nullable body columns: snapshot and compact survive a delete") {
    val dir = tmp()
    GraftDoc.write(spark.range(1, 101).select(col("id").as("k"),
      (col("id") * 2).as("v"), lit("x").as("s")), "k", dir)
    GraftDoc.delete(spark, dir, spark.range(5, 8).toDF("k"))
    val want = (1L to 100L).filterNot(k => k >= 5 && k <= 7)
      .map(k => (k.toString, k * 2, "x"))
    def snap() = GraftDoc.snapshot(spark, dir).select("_id", "v", "s")
      .as[(String, Long, String)].collect().sortBy(_._1.toLong).toSeq
    assert(snap() == want)
    GraftDoc.compact(spark, dir)
    assert(snap() == want)
  }

  test("key-pinned snapshot lookup plans no shuffle and runs one job, one task") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = historyTable()
    def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) {
        case s: ShuffleExchangeExec => s
      }.length
    }
    val q = GraftDoc.snapshot(spark, dir).filter(col("_id") === "3")
    assert(shuffles(q) == 0, q.queryExecution.executedPlan.treeString)
    // the same read without key grouping keeps its exchange
    withBucketing(on = false) {
      assert(shuffles(GraftDoc.snapshot(spark, dir).filter(col("_id") === "3")) == 1)
    }
    // an un-pinned snapshot of an untagged table keeps its exchange too
    assert(shuffles(GraftDoc.snapshot(spark, untag(historyTable()))) == 1)

    var rows = Seq.empty[(String, String)]
    val (jobs, tasks, records) = counted { rows = lookup(dir, "3") }
    assert(rows == Seq("3" -> "v3_3"))
    assert((jobs, tasks) == (1, 1), s"jobs=$jobs tasks=$tasks")
    // only key 3's three versions reach the parser's output
    assert(records == 3L, s"records read: $records")
  }

  test("key-pinned lookup: same rows as the shuffle plan for every key history") {
    val dir = historyTable()
    val want = Map("1" -> Seq("1" -> "v1_1"), "3" -> Seq("3" -> "v3_3"),
      "5" -> Nil, "7" -> Seq("7" -> "v4_7"), "8" -> Seq("8" -> "v2_8"),
      "99" -> Nil, "0" -> Nil)
    want.foreach { case (id, rows) =>
      assert(lookup(dir, id) == rows, s"key $id")
      withBucketing(on = false)(assert(lookup(dir, id) == rows, s"key $id, shuffle plan"))
    }
  }

  test("key-pinned lookup with every file pruned away returns nothing") {
    val dir = historyTable()
    // "zz" sorts above every stored key: no file's manifest range admits it
    val q = GraftDoc.snapshot(spark, dir).filter(col("_id") === "zz")
    assert(batchScan(q).inputPartitions.isEmpty)
    assert(q.collect().isEmpty)
    assert(GraftDoc.log(spark, dir).filter(col("_id") === "zz").count() == 0)
  }

  test("line skip: escaped, multi-byte and prefix keys resolve exactly") {
    val keys = Seq("12", "123", "1", "a\"b", "back\\slash", "ctl\u0001x",
      "tab\tkey", "é", "日本", "日本語", "emoji\uD83D\uDE00", "plain")
    val dir = tmp()
    GraftDoc.write(keys.map(k => (k, s"v1:$k")).toDF("k", "name"), "k", dir)
    GraftDoc.write(keys.take(6).map(k => (k, s"v2:$k")).toDF("k", "name"), "k", dir)
    // the writer escaped what JSON requires and kept UTF-8 raw
    val stored = GraftDocLog.listCommitFiles(dir).map(_._2)
      .flatMap(f => scala.io.Source.fromFile(f.stripPrefix("file:"), "UTF-8").getLines())
    assert(stored.exists(_.startsWith("{\"_id\":\"a\\\"b\"")))
    assert(stored.exists(_.startsWith("{\"_id\":\"ctl\\u0001x\"")))
    assert(stored.exists(_.startsWith("{\"_id\":\"日本\"")))
    keys.zipWithIndex.foreach { case (k, i) =>
      val v = if (i < 6) s"v2:$k" else s"v1:$k"
      assert(lookup(dir, k) == Seq(k -> v), s"key $k")
      assert(GraftDoc.log(spark, dir).filter(col("_id") === k).count() ==
        (if (i < 6) 2 else 1), s"log versions of $k")
    }
    assert(lookup(dir, "日") == Nil)
    assert(lookup(dir, "12 ") == Nil)
  }

  test("line skip: only lines that provably start with another _id are dropped") {
    import graft.connector.GraftDocFilters.otherKey
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def skip(line: String, wanted: String*): Boolean = {
      val b = line.getBytes(utf8)
      otherKey(b, b.length, wanted.map(UTF8String.fromString).toSet)
    }
    assert(skip("""{"_id":"12","v":1}""", "123"))
    assert(skip("""{"_id":"123","v":1}""", "12"))
    assert(!skip("""{"_id":"12","v":1}""", "12"))
    assert(!skip("""{"_id":"12","v":1}""", "1", "12"))
    assert(skip("""{"_id":"日本"}""", "日"))
    assert(!skip("""{"_id":"日本"}""", "日本"))
    // a backslash anywhere in the value: the parser decides
    assert(!skip("""{"_id":"a\"b"}""", "x"))
    assert(!skip("{\"_id\":\"" + "\\" + "u0041\"}", "B"))
    // any other shape: the parser decides
    assert(!skip("""{"v":1,"_id":"x"}""", "y"))
    assert(!skip("""{ "_id":"x"}""", "y"))
    assert(!skip("""{"_id":5}""", "y"))
    assert(!skip("""{"_id":"unterminated""", "y"))
    assert(!skip("", "y"))
    // the byte buffer may be longer than the line
    val b = """{"_id":"ab"}XXXX""".getBytes(utf8)
    assert(!otherKey(b, 12, Set(UTF8String.fromString("ab"))))
    // the wanted set: conjunction of EqualTo / In on _id
    import org.apache.spark.sql.sources.{EqualTo, In, GreaterThan}
    import graft.connector.GraftDocFilters.{lineSkipKeys, wantedIds}
    assert(wantedIds(Array(In("_id", Array("a", "b", null)), EqualTo("_id", "b"))) ==
      Some(Set("b")))
    assert(wantedIds(Array(GreaterThan("_id", "a"), EqualTo("v", "b"))).isEmpty)
    assert(wantedIds(Array(In("_id", Array("a", 1)))).isEmpty)
    assert(lineSkipKeys(Array(EqualTo("_id", "x\uFFFD"))).isEmpty)
  }

  test("line skip: lines led by another key, and empty lines, still parse") {
    val dir = tmp()
    // one bucket: every key's lines share the one part file edited below
    withShufflePartitions(1)(GraftDoc.write(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "name").coalesce(1), "k", dir))
    val part = GraftDocLog.listCommitFiles(dir).map(_._2).head.stripPrefix("file:")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(part),
      "\n{\"name\":\"b2\",\"_id\":\"2\"}\n\n",
      java.nio.file.StandardOpenOption.APPEND)
    // the local FS checksums what it wrote; the hand edit drops the stale sum
    val crc = java.nio.file.Paths.get(part)
    java.nio.file.Files.delete(crc.resolveSibling(s".${crc.getFileName}.crc"))
    def ids(id: String) = GraftDoc.log(spark, dir).filter(col("_id") === id)
      .select("name").as[String].collect().sorted.toSeq
    assert(ids("2") == Seq("b", "b2"))
    assert(ids("1") == Seq("a"))
  }

  test("line skip: isin on _id returns the rows of the unpushed query") {
    val dir = historyTable()
    // past the optimizer's InSet threshold, so the long-list path is pushed
    val ks = Seq("3", "5", "7", "12", "99") ++ (20 to 30).map(_.toString)
    val all = GraftDoc.snapshot(spark, dir).select("_id", "name")
      .as[(String, String)].collect().toSeq
    val got = GraftDoc.snapshot(spark, dir).filter(col("_id").isin(ks: _*))
      .select("_id", "name").as[(String, String)].collect().sorted.toSeq
    assert(got == all.filter(r => ks.contains(r._1)).sorted)
    assert(batchScan(GraftDoc.snapshot(spark, dir).filter(col("_id").isin(ks: _*)))
      .scan.description().contains("In(_id"))
  }

  test("line skip: readStream with an _id filter drains every version of the key") {
    val dir = historyTable()
    val ckpt = tmp()
    val q = GraftDoc.readStream(spark, dir).filter(col("_id") === "3")
      .select("_id", "name", "_commit")
      .writeStream.format("memory").queryName("graft_doc_key3")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("graft_doc_key3").select("name").as[String]
      .collect().sorted.toSeq
    assert(got == Seq("v1_3", "v2_3", "v3_3"))
  }

  // ------------------------------------------------ hash-bucketed commits

  /** Rewrites `dir` into the layout of a table written before bucketing:
    * part files lose their bucket tag and `_buckets` is gone. */
  private def untag(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    Seq(GraftDocLog.BucketsFile, s".${GraftDocLog.BucketsFile}.crc")
      .foreach(n => Files.deleteIfExists(root.resolve(n)))
    val walk = Files.walk(root)
    try walk.iterator().asScala.toList
      .filter(_.getFileName.toString.matches("\\.?part-.*-b[0-9]+of[0-9]+-.*"))
      .foreach(p => Files.move(p, p.resolveSibling(
        p.getFileName.toString.replaceFirst("-b([0-9]+)of[0-9]+-", "-u$1-"))))
    finally walk.close()
    dir
  }

  /** Exchanges below the windows of `df`'s executed plan. */
  private def windowShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    df.collect()
    Plans.collect(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.map(w => Plans.collect(w) { case s: ShuffleExchangeExec => s }.length).sum
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    df.select("_id", "name").as[(String, String)].collect().sortBy(_._1).toSeq

  /** The `of<B>` tags of the table's part files ("" for untagged ones). */
  private def bucketCounts(dir: String): Set[String] =
    GraftDocLog.listCommitFiles(dir).map(f =>
      "-b[0-9]+(of[0-9]+)-".r.findFirstMatchIn(f._2).map(_.group(1)).getOrElse("")).toSet

  test("bucketed layout: snapshot, liveView, compact and lookups match the bucketing-off plan") {
    val dir = historyTable()
    assert(bucketCounts(dir) == Set("of4"))
    // live (1, 8), rewritten (3), deleted (5), deleted then re-inserted
    // (7) and absent (99, 0) keys
    val keys = Seq("1", "3", "5", "7", "8", "99", "0")
    def reads() = (rows(GraftDoc.snapshot(spark, dir)),
      rows(GraftDoc.liveView(spark, dir)), keys.map(lookup(dir, _)))
    val on = reads()
    assert(on == withBucketing(on = false)(reads()))
    val live = on._1.toMap
    assert(live.size == 39 && live("3") == "v3_3" && live("8") == "v2_8" &&
      live("7") == "v4_7" && !live.contains("5"))
    assert(on._2 == on._1)
    // compaction with and without key grouping, on twin tables
    val twin = historyTable()
    GraftDoc.compact(spark, dir)
    withBucketing(on = false)(GraftDoc.compact(spark, twin))
    Seq(dir, twin).foreach { d =>
      assert(rows(GraftDoc.snapshot(spark, d)) == on._1)
      assert(rows(GraftDoc.log(spark, d)) == on._1) // the base holds live docs only
      assert(keys.map(lookup(d, _)) == on._3)
      withBucketing(on = false)(assert(keys.map(lookup(d, _)) == on._3))
      assert(bucketCounts(d) == Set("of4"))
    }
  }

  test("bucketed full reads resolve versions with no exchange; untagged ones shuffle once") {
    val dir = historyTable()
    val snap = GraftDoc.snapshot(spark, dir)
    assert(windowShuffles(snap) == 0, snap.queryExecution.executedPlan.treeString)
    assert(windowShuffles(GraftDoc.liveView(spark, dir)) == 0)
    assert(windowShuffles(GraftDoc.snapshot(spark, dir).agg(count(lit(1)))) == 0)
    assert(!GraftDoc.snapshot(spark, dir).columns.contains(GraftDocLog.BucketCol))
    // one job of B = 4 tasks; a compaction is one job too
    val (jobs, tasks, _) = counted(GraftDoc.snapshot(spark, dir).collect())
    assert((jobs, tasks) == (1, 4), s"jobs=$jobs tasks=$tasks")
    val (compactJobs, _, _) = counted(GraftDoc.compact(spark, dir))
    assert(compactJobs == 1, s"compaction ran $compactJobs jobs")
    assert(windowShuffles(GraftDoc.snapshot(spark, dir)) == 0)
    // without key grouping, or on an untagged table: one exchange
    withBucketing(on = false)(assert(windowShuffles(GraftDoc.snapshot(spark, dir)) == 1))
    val old = untag(historyTable())
    assert(bucketCounts(old) == Set(""))
    assert(windowShuffles(GraftDoc.snapshot(spark, old)) == 1)
    assert(windowShuffles(GraftDoc.liveView(spark, old)) == 1)
  }

  test("mixed layouts never split a key's versions: untagged then tagged, and two B values") {
    // untagged history, then appends (the first records B) writing tagged
    // files over the same keys
    val mixed = untag(historyTable())
    // B = 4 history, then a racing creator's B = 3
    val twoB = historyTable()
    val twoBRoot = java.nio.file.Paths.get(twoB)
    Files.deleteIfExists(twoBRoot.resolve(s".${GraftDocLog.BucketsFile}.crc"))
    Files.writeString(twoBRoot.resolve(GraftDocLog.BucketsFile), "3")
    Seq(mixed -> Set("", "of4"), twoB -> Set("of4", "of3")).foreach { case (d, tags) =>
      GraftDoc.write(Seq((3L, "v5_3"), (5L, "v5_5"), (9L, "v5_9"), (7L, "v5_7"))
        .toDF("k", "name"), "k", d)
      GraftDoc.delete(spark, d, Seq(8L, 7L).toDF("k"))
      assert(bucketCounts(d) == tags)
      val got = rows(GraftDoc.snapshot(spark, d))
      assert(got.map(_._1).distinct.size == got.size, s"duplicate _id: $got")
      assert(got == withBucketing(on = false)(rows(GraftDoc.snapshot(spark, d))))
      val live = got.toMap
      assert(live.size == 38 && live("3") == "v5_3" && live("5") == "v5_5" &&
        live("9") == "v5_9" && !live.contains("7") && !live.contains("8"))
      assert(rows(GraftDoc.liveView(spark, d)) == got)
      assert(windowShuffles(GraftDoc.snapshot(spark, d)) == 1)
      Seq("3", "5", "7", "8", "9").foreach(k =>
        assert(lookup(d, k) == live.get(k).map(k -> _).toSeq, s"key $k"))
    }
  }

  test("a pre-bucket table is tagged from its next append, then compacted") {
    val dir = untag(historyTable())
    val want = rows(GraftDoc.snapshot(spark, dir))
    assert(GraftDocLog.recordedBuckets(dir).isEmpty)
    // the first append records the session's B and tags its own files
    GraftDoc.write(Seq((41L, "v1_41"), (3L, "v5_3")).toDF("k", "name"), "k", dir)
    assert(GraftDocLog.recordedBuckets(dir).contains(4))
    assert(bucketCounts(dir) == Set("", "of4"))
    val expected = (want.toMap ++ Seq("41" -> "v1_41", "3" -> "v5_3")).toSeq.sortBy(_._1)
    val keys = Seq("3", "41", "5", "8")
    def reads() = (rows(GraftDoc.snapshot(spark, dir)),
      rows(GraftDoc.liveView(spark, dir)), keys.map(lookup(dir, _)))
    val on = reads()
    assert(on._1 == expected && on._2 == expected)
    assert(on == withBucketing(on = false)(reads()))
    GraftDoc.compact(spark, dir)
    assert(bucketCounts(dir) == Set("of4"))
    val got = GraftDoc.snapshot(spark, dir)
    assert(rows(got) == expected)
    assert(keys.map(lookup(dir, _)) == on._3)
    assert(windowShuffles(got) == 0)
  }

  test("a pinned lookup reads only the files of its key's bucket") {
    import graft.connector.GraftDocInputPartition
    val dir = historyTable()
    val all = GraftDocLog.listCommitFiles(dir).map(_._2)
    Seq("3", "7", "12", "40").foreach { k =>
      val tag = s"-b${GraftDocLog.bucketOf(UTF8String.fromString(k), 4)}of4-"
      val q = GraftDoc.snapshot(spark, dir).filter(col("_id") === k)
      val files = batchScan(q).inputPartitions.map {
        case p: GraftDocInputPartition => p.file
      }.distinct
      assert(files.nonEmpty && files.forall(_.contains(tag)), s"key $k read $files")
      assert(files.size < all.size)
      assert(lookup(dir, k) == withBucketing(on = false)(lookup(dir, k)))
    }
  }

  test("CDC micro-batches read each writer task's bucket files of a commit as one partition") {
    import graft.connector.{GraftDocOffset, GraftDocPackedPartition, GraftDocScanBuilder}
    val dir = tmp()
    def docs(from: Long) = spark.range(from, from + 200).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"))
    GraftDoc.write(docs(0).coalesce(1), "k", dir) // one task: four bucket files
    GraftDoc.write(docs(1000).repartition(2), "k", dir) // two tasks: eight
    assert(GraftDocLog.listCommitFiles(dir).groupBy(_._1).values.map(_.size).toSet == Set(4, 8))
    val stream = new GraftDocScanBuilder(GraftDoc.log(spark, dir).schema, dir).build()
      .toMicroBatchStream(tmp())
    val parts = stream.planInputPartitions(GraftDocOffset(0L), GraftDocOffset(2L))
    assert(parts.length == 3 && parts.forall(_.isInstanceOf[GraftDocPackedPartition]),
      parts.toSeq.toString)
    // every version exactly once, packed or split by byte range
    Seq(Map.empty[String, String], Map(GraftDocLog.MaxSplitBytesOpt -> "256")).foreach { o =>
      val name = s"cdc_packed_${o.size}"
      val q = spark.readStream.format("graft-doc").options(o).load(dir)
        .select("_id", "_commit").writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tmp())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val got = spark.table(name).as[(String, Long)].collect()
      assert(got.length == 400 && got.distinct.length == 400, s"options $o")
    }
  }

  // ------------------------------------------------- log listing and codec

  private val odd = "q\"uo\\te \u0001\u001f\t\n\r é 😀 end"

  private def oddManifest(tag: Option[String]) =
    GraftDocLog.Manifest(s"query $odd", -1L, tag, Seq(
      GraftDocFileStat("part-00000-0-b1of4-0.jsonl", 12L, Some(s"a$odd"), Some(s"z$odd"),
        Seq(GraftDocColStat(s"name$odd", "s", s"min$odd", s"max$odd"),
          GraftDocColStat("n", "l", "-3", "40"))),
      GraftDocFileStat("part-00001-1-0.jsonl", 0L, None, None)))

  /** The manifest writer tables were written with before the Jackson codec
    * (a hand-written escaper), kept so that those manifests provably read.
    * `tombstone` adds the flag that writer also set on a delete's manifest,
    * which the codec ignores (the flag rides the commit dir name). */
  private def handWrittenManifest(m: GraftDocLog.Manifest,
      tombstone: Boolean = false): String = {
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val files = m.files.map { f =>
      val ids = (f.minId, f.maxId) match {
        case (Some(lo), Some(hi)) => s""","minId":${jstr(lo)},"maxId":${jstr(hi)}"""
        case _ => ""
      }
      val cols =
        if (f.cols.isEmpty) ""
        else f.cols.map(c =>
          s"""{"c":${jstr(c.col)},"t":${jstr(c.t)},""" +
            s""""min":${jstr(c.min)},"max":${jstr(c.max)}}""")
          .mkString(""","cols":[""", ",", "]")
      s"""{"name":${jstr(f.name)},"rows":${f.rows}$ids$cols}"""
    }.mkString("[", ",", "]")
    val tagPart = m.tag.map(t => s""","tag":${jstr(t)}""").getOrElse("")
    val tombPart = if (tombstone) ""","tombstone":true""" else ""
    s"""{"queryId":${jstr(m.queryId)},"epochId":${m.epochId}$tagPart$tombPart,"files":$files}"""
  }

  test("log codec: manifests and watermarks round-trip quotes, backslashes, control chars and non-BMP text") {
    val codec = GraftDocLog.LogCodec
    for (m <- Seq(oddManifest(Some(s"tag$odd")),
        oddManifest(None).copy(epochId = 42L, files = Nil)))
      assert(codec.parseManifest(codec.manifestJson(m)) == m)
    assert(codec.parseWatermark(codec.watermarkJson(7L, 123456789012L)) == Some((7L, 123456789012L)))
    assert(codec.parseWatermark("""{"epochId":7}""").isEmpty)
    assert(codec.parseWatermark("""{"epochId":"7","seq":3}""").isEmpty)
  }

  test("log codec: a manifest in the hand-written format of earlier writers parses to the same stats") {
    val codec = GraftDocLog.LogCodec
    val m = oddManifest(Some(s"tag$odd"))
    assert(codec.parseManifest(handWrittenManifest(m, tombstone = true)) == m)
    // the grammar is unchanged: plain text serializes byte for byte alike
    val plain = GraftDocLog.Manifest("q-1", 3L, Some("base"),
      Seq(GraftDocFileStat("part-0.jsonl", 5L, Some("1"), Some("9"),
        Seq(GraftDocColStat("n", "l", "1", "9")))))
    assert(codec.manifestJson(plain) == handWrittenManifest(plain))
    assert(handWrittenManifest(plain) ==
      """{"queryId":"q-1","epochId":3,"tag":"base","files":[{"name":"part-0.jsonl",""" +
        """"rows":5,"minId":"1","maxId":"9","cols":[{"c":"n","t":"l","min":"1","max":"9"}]}]}""")
    // a table whose manifests the earlier writer wrote plans from them as before
    val dir = tmp()
    withShufflePartitions(1) {
      GraftDoc.write(Seq((1L, "a"), (5L, "e")).toDF("k", "name"), "k", dir)
    }
    val commit = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString.startsWith("commit_")).get
    val manifest = commit.resolve(GraftDocLog.ManifestFile)
    val written = GraftDocLog.LogCodec.parseManifest(Files.readString(manifest))
    Files.writeString(manifest, handWrittenManifest(written.copy(tag = Some(odd))))
    Files.deleteIfExists(manifest.resolveSibling(s".${GraftDocLog.ManifestFile}.crc"))
    val fi = GraftDocLog.listCommitFileInfos(dir)
    assert(fi.map(f => (f.path.split('/').last, f.rows, f.minId, f.maxId)).toSet ==
      written.files.map(f => (f.name, f.rows, f.minId, f.maxId)).toSet)
    assert(written.files.map(_.rows).sum == 2L)
    assert(GraftDocLog.findCommitSeqByTag(dir, odd).contains(1L))
    assert(GraftDoc.snapshot(spark, dir).filter(col("_id") === "5")
      .select("name").as[String].collect().toSeq == Seq("e"))
  }

  test("a plain append lists the table root at most twice and stats no root marker; tableState lists it once") {
    val dir = tmp()
    GraftDoc.write(Seq((1L, "a")).toDF("k", "name"), "k", dir)
    val counting = Seq("fs.file.impl" -> classOf[CountingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    counting.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      CountingLocalFs.reset()
      GraftDocLog.rootListings.set(0L)
      GraftDoc.write(Seq((2L, "b")).toDF("k", "name"), "k", dir)
      val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath
      val rootLists = CountingLocalFs.listed.asScala.count(_ == root)
      assert(rootLists == GraftDocLog.rootListings.get(),
        s"${CountingLocalFs.listed.asScala.toSeq} vs ${GraftDocLog.rootListings.get()}")
      assert(rootLists >= 1 && rootLists <= 2, s"$rootLists root listings for one append")
      val markers = Set(GraftDocLog.FormatFile, GraftDocLog.BucketsFile, GraftDocLog.SchemaFile)
      val statted = CountingLocalFs.existsAsked.asScala.filter(markers).toSeq
      assert(statted.isEmpty, s"exists stats on root markers: $statted")
    } finally counting.foreach { case (k, _) => spark.conf.unset(k) }
    assert(GraftDoc.snapshot(spark, dir).count() == 2)
    GraftDocLog.rootListings.set(0L)
    assert(GraftDocLog.tableState(dir) == ((2L, Set.empty[Long])))
    assert(GraftDocLog.rootListings.get() == 1L)
  }

  test("crash points of the commit path: readers see the old or the new view, and the next append commits") {
    import java.nio.file.Paths
    def names(dir: String) =
      GraftDoc.snapshot(spark, dir).select("name").as[String].collect().toSet
    def append(dir: String, k: Long, name: String): Unit =
      GraftDoc.write(Seq((k, name)).toDF("k", "name"), "k", dir)

    // 1. claimed, then died before the rename: a claim with no commit dir
    val claimed = tmp()
    append(claimed, 1L, "a")
    Files.createFile(Paths.get(claimed, "_claim_000000002"))
    assert(names(claimed) == Set("a"))
    assert(GraftDocLog.safeLatestSeq(claimed, GraftDocLog.DefaultClaimGraceMs) == 1L)
    append(claimed, 2L, "b")
    assert(names(claimed) == Set("a", "b"))
    assert(GraftDocLog.latestCommitSeq(claimed) == 3L)

    // 2. staged, then died before claiming: part files and a manifest
    //    under _staging/ that were never renamed into a commit
    val staged = tmp()
    append(staged, 1L, "a")
    val ghost = tmp()
    append(ghost, 9L, "ghost")
    val ghostCommit = Files.list(Paths.get(ghost)).iterator().asScala
      .find(_.getFileName.toString.startsWith("commit_")).get
    val orphan = Paths.get(staged, "_staging", "dead-writer")
    Files.createDirectories(orphan)
    Files.list(ghostCommit).iterator().asScala.foreach(p => Files.copy(p, orphan.resolve(p.getFileName)))
    assert(names(staged) == Set("a"))
    append(staged, 2L, "b")
    assert(names(staged) == Set("a", "b"))
    assert(GraftDocLog.latestCommitSeq(staged) == 2L)

    // 3. renamed, then died before the watermark: epoch 1's commit is in
    //    the log but `_epochs/<query>` still names epoch 0
    val renamed = tmp()
    val docSchema = StructType(Seq(StructField("_id", StringType), StructField("name", StringType)))
    val info = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(java.util.Map.of("path", renamed))
      override def queryId(): String = "query-crash-points"
      override def schema(): StructType = docSchema
    }
    val w = new GraftDocWriteBuilder(info, renamed).build().toStreaming
    val pInfo = new PhysicalWriteInfo { override def numPartitions(): Int = 1 }
    def epoch(e: Long, name: String): Unit = {
      val t = w.createStreamingWriterFactory(pInfo).createWriter(0, 0L, e)
      t.write(InternalRow(UTF8String.fromString(s"e$e"), UTF8String.fromString(name)))
      w.commit(e, Array(t.commit()))
    }
    epoch(0L, "zero")
    val hw = Files.list(Paths.get(renamed, "_epochs")).iterator().asScala
      .find(!_.getFileName.toString.startsWith(".")).get
    val epoch0 = Files.readString(hw)
    epoch(1L, "one")
    Files.writeString(hw, epoch0)
    Files.deleteIfExists(hw.resolveSibling(s".${hw.getFileName}.crc")) // as a crash leaves it
    assert(names(renamed) == Set("zero", "one"))
    epoch(1L, "one") // the replayed micro-batch is found in the manifests
    assert(GraftDocLog.latestCommitSeq(renamed) == 2L)
    epoch(2L, "two")
    append(renamed, 3L, "batch")
    assert(names(renamed) == Set("zero", "one", "two", "batch"))
    assert(GraftDocLog.latestCommitSeq(renamed) == 4L)
  }
}

/** `file:` that records the paths it lists and the names `exists` is asked
  * about, for counting GraftDocLog's root reads. Installed with the file
  * system cache off, so every lookup builds a fresh instance: the records
  * are shared. */
class CountingLocalFs extends graft.ForklessLocalFileSystem {
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.listed.add(p.toUri.getPath)
    super.listStatus(p)
  }
  override def exists(p: org.apache.hadoop.fs.Path): Boolean = {
    CountingLocalFs.existsAsked.add(p.getName)
    super.exists(p)
  }
}

object CountingLocalFs {
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val existsAsked = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def reset(): Unit = { listed.clear(); existsAsked.clear() }
}
