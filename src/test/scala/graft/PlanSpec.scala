package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Plan-quality gates (the 100 TB contract, SURVEY.md §4): these assert the
  * SHAPE of the physical plans — pushdown reaching the scan, broadcasts
  * where a dimension is small, shuffle counts bounded, no accidental
  * cartesian products — so a regression that silently de-optimizes a
  * pipeline fails CI even while results stay correct.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes the adaptive plan
    df.queryExecution.executedPlan
  }

  /** Flatten an (adaptive) plan: unwrap AQE roots, materialized query
    * stages, and reused exchanges — their subplans aren't `children`. */
  private def collectAll(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => collectAll(a.executedPlan)
    case qs: QueryStageExec => qs +: collectAll(qs.plan)
    case r: ReusedExchangeExec => r +: collectAll(r.child)
    case other =>
      other +: (other.children.flatMap(collectAll) ++
        other.subqueries.flatMap(collectAll))
  }

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("filter + projection push into the parquet scan") {
    import org.apache.spark.sql.functions.col
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_orderkey") === 42L)
      .select(col("l_orderkey"), col("l_quantity"))
    val scan = executed(df).toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]"),
      s"missing pushed filter:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning failed:\n$scan")
  }

  test("qd6: payload predicate reaches the graft-doc scan and prunes files") {
    import org.apache.spark.sql.functions.col
    // run the oracle query once — it stages the lang-sorted table with
    // declared statsColumns under the materialization root
    q("qd6_doc_payload_stats_skip").collect()
    val path = graft.queries.QueryDef.materializePath(dir, "qd6")
    val all = spark.read.format("graft-doc").load(path)
    val es = all.filter(col("lang") === "es")
    val plan = executed(es).toString
    assert(plan.contains("EqualTo(lang,es)"),
      s"payload predicate must surface in the scan's PushedFilters:\n$plan")
    // files-read drops: the lang-sorted layout puts 'es' rows in a strict
    // subset of the part files, and the manifest min/max prunes the rest
    def parts(df: DataFrame): Int = collectAll(executed(df)).collect {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
    }.map(_.inputRDD.getNumPartitions).sum
    val allParts = parts(all)
    val esParts = parts(es)
    assert(esParts < allParts,
      s"expected a files-read drop under the payload predicate: " +
        s"$esParts vs $allParts")
  }

  test("dimension joins broadcast (q10 customer side)") {
    val plans = collectAll(executed(q("q10_join_inner")))
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "q10 should broadcast the customer dimension")
  }

  test("no accidental cartesian products anywhere in the suite's plans") {
    // equi-join extraction must succeed for every query that has a join;
    // the two brute-force similarity queries legitimately cross-join a
    // broadcast side (BroadcastNestedLoop), never CartesianProduct.
    for (name <- SparkEntry.queries.keys.toSeq.sorted
         if !name.startsWith("q8")) { // streaming queries run real streams
      val plans = collectAll(executed(q(name)))
      assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name plans a CartesianProduct")
    }
  }

  test("q6c bucketed embedding dedup: big side never nested-loops against itself") {
    // the only BroadcastNestedLoop inputs are the ~sqrt(N)-row centroid
    // side and the one-row adaptive-k aggregate (IVF assignment/probing,
    // as q66); the candidate-pair join itself and the verify joins must
    // be hash equi-joins blocked on cell / id.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plans = collectAll(executed(q("q6c_embedding_dedup_bucketed")))
    val bnl = plans.collect { case j: BroadcastNestedLoopJoinExec => j }
    bnl.foreach { j =>
      val broadcastSide = j.children.flatMap(collectAll).collectFirst {
        case b: BroadcastExchangeExec => collectAll(b).map(_.toString).mkString
        case qs: QueryStageExec if qs.plan.isInstanceOf[BroadcastExchangeExec] =>
          collectAll(qs.plan).map(_.toString).mkString
      }.getOrElse(fail(s"BNLJ without broadcast side: $j"))
      val centroidSide = broadcastSide.contains("vec_id")
      val kScalarSide = broadcastSide.contains("count(1)")
      assert(centroidSide || kScalarSide,
        s"BNLJ must broadcast the centroid side or the one-row k aggregate, got:\n$broadcastSide")
    }
    // candidate + verify joins are equi hash joins
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    assert(plans.exists(p => p.isInstanceOf[BroadcastHashJoinExec] ||
      p.isInstanceOf[ShuffledHashJoinExec] || p.isInstanceOf[SortMergeJoinExec]),
      "q6c candidate path should contain hash equi-joins")
  }

  test("q6e corpus pipeline: every join is an equi join (no cartesian anywhere)") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val plans = collectAll(executed(q("q6e_corpus_build")))
    assert(!plans.exists(p => p.isInstanceOf[BroadcastNestedLoopJoinExec] ||
      p.isInstanceOf[CartesianProductExec]),
      "q6e must compose only hash/sort-merge equi joins — the corpus body " +
        "and the chunk stream never meet a nested loop")
  }

  test("partial aggregation: single-agg query has exactly one shuffle before the sort") {
    val plans = collectAll(executed(q("q01_pricing_summary")))
    val shuffles = plans.count(_.isInstanceOf[ShuffleExchangeExec])
    // one for groupBy, one for the final orderBy range partitioning
    assert(shuffles <= 2, s"q01 has $shuffles shuffles, expected <= 2")
  }

  test("q1j: bucketed layout deletes the join shuffle (exchanges only above the join)") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("q1j_bucketed_join")))
    val smj = plans.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, "q1j must plan a sort-merge join (merge hint)")
    val underJoin = smj.get.children.flatMap(collectAll)
    assert(!underJoin.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "both join inputs are bucketed by the join key into the same bucket " +
        "count — the SMJ must read them exchange-free")
  }

  test("q1k: day predicate resolves as a partition filter (directory pruning)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val plans = collectAll(executed(q("q1k_partition_pruning")))
    val scan = plans.collectFirst { case f: FileSourceScanExec => f }
    assert(scan.nonEmpty, "q1k must read the partitioned layout via a file scan")
    assert(scan.get.partitionFilters.nonEmpty,
      "the d = 15 predicate must prune at planning time, not per-row")
    // the pruned scan must touch only the matching partition's files
    val dirs = scan.get.relation.location.inputFiles
      .flatMap(_.split("/").find(_.startsWith("d="))).distinct
    assert(dirs.length > 1, "layout should have many day partitions")
    val read = scan.get.metrics.get("numFiles").map(_.value)
    assert(read.exists(_ >= 1), s"scan read no files?")
    val selected = scan.get.selectedPartitions.partitionCount
    assert(selected === 1,
      s"exactly one day partition should survive pruning, got $selected")
  }

  test("top-k per group plans WindowGroupLimit (partial top-k before shuffle)") {
    val plans = collectAll(executed(q("q24_topk_per_group")))
    assert(plans.exists(_.getClass.getSimpleName.contains("WindowGroupLimit")),
      "q24 should push a group-limit below the window sort")
  }

  test("q0d has no global (empty-partitioning) window; top-20 is TakeOrderedAndProject") {
    // the 100 TB hazard: a Window with empty partitionSpec funnels the
    // full distinct vocabulary (10^8+ rows at scale) through ONE task.
    // q0d must carry its corpus total as a scalar subquery and take its
    // top-20 via per-partition top-k + driver merge instead.
    val plans = collectAll(executed(q("q0d_cms_token_freq")))
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"q0d plans ${globalWindows.size} empty-partitioning Window node(s) — " +
        "single-task at scale")
    assert(plans.exists(_.getClass.getSimpleName.contains("TakeOrderedAndProject")),
      "q0d's top-20 should plan TakeOrderedAndProject (per-partition top-k)")
  }

  test("q6l line dedup: document bodies never shuffle (reassembly join broadcasts the drop list)") {
    // the decision stream shuffles (doc_id, pos, hash) only; the word
    // arrays ("ws") may only meet a join via a BROADCAST of the
    // duplicate-rate-bounded drop list — an SMJ here would shuffle every
    // document body by doc_id
    val plans = collectAll(executed(q("q6l_line_dedup")))
    val joinsCarryingBodies = plans.filter { p =>
      p.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec] &&
        p.output.exists(_.name == "ws")
    }
    assert(joinsCarryingBodies.nonEmpty, "expected a reassembly join in the plan")
    assert(joinsCarryingBodies.forall(_.isInstanceOf[BroadcastHashJoinExec]),
      s"body-carrying join is not broadcast:\n${joinsCarryingBodies.mkString("\n")}")
  }

  test("q5u hybrid RRF: no cartesian product; token join broadcasts the query side") {
    // the lexical side must be the inverted-index shape: corpus tokens
    // equi-joined to the BROADCAST query-token lists (only docs sharing a
    // token materialize). A CartesianProduct anywhere means a
    // corpus×queries nested loop leaked in — quadratic at scale. (The
    // vector side's BroadcastNestedLoopJoin over the 10 broadcast query
    // vectors is q65's sanctioned scan shape, not a cartesian.)
    val plans = collectAll(executed(q("q5u_hybrid_rrf")))
    assert(!plans.exists(_.getClass.getSimpleName.contains("CartesianProduct")),
      "q5u plans a CartesianProduct — corpus-side nested loop")
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "q5u's token-overlap join should be a BroadcastHashJoin on tok")
  }

  test("q1f range join: binning turns the pure range predicate into a hash join") {
    // the whole point of RangeJoin is that a no-equi-prefix interval
    // predicate does NOT plan as a nested loop over the cross product:
    // the bin key must give Spark a hash-joinable equi condition
    val plans = collectAll(executed(q("q1f_join_range")))
    val names = plans.map(_.getClass.getSimpleName)
    assert(!names.exists(_.contains("CartesianProduct")),
      "q1f plans a CartesianProduct — binning failed to produce an equi key")
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")),
      "q1f plans a BroadcastNestedLoopJoin — the range predicate isn't riding the bin equi join")
  }

  test("q1i interval-overlap join: binning keeps the two-sided range off the nested loop") {
    // same contract as q1f, harder shape: TWO interval sides and no equi
    // prefix — the raw overlap predicate (loA < hiB AND loB < hiA) is
    // un-hash-joinable, so only the bin key stands between this query and
    // a cross product
    val plans = collectAll(executed(q("q1i_join_interval_overlap")))
    val names = plans.map(_.getClass.getSimpleName)
    assert(!names.exists(_.contains("CartesianProduct")),
      "q1i plans a CartesianProduct — binning failed to produce an equi key")
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")),
      "q1i plans a BroadcastNestedLoopJoin — the overlap predicate isn't riding the bin equi join")
  }

  test("q5x global packing: zero empty-partitioning windows (the naive global running sum)") {
    // q5x's whole reason to exist: the same global-order prefix sum a
    // `SUM() OVER (ORDER BY …)` would compute, with no window that
    // funnels the corpus through one task
    val plans = collectAll(executed(q("q5x_global_packing")))
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"q5x plans ${globalWindows.size} empty-partitioning Window node(s) — " +
        "single-task at scale")
  }

  test("q6n pagerank: top-50 plans TakeOrderedAndProject, not a global sort") {
    // the per-round machinery is joins + hash aggs; the only ordering in
    // the query is the final top-50, which must be the per-partition
    // top-k + driver-merge operator, not a full range-sort of the ranks
    val plans = collectAll(executed(q("q6n_pagerank")))
    assert(plans.exists(_.getClass.getSimpleName.contains("TakeOrderedAndProject")),
      "q6n's top-50 degraded to a full global sort")
  }

  test("q1h stable ids: zero empty-partitioning windows (the naive global row_number)") {
    // the whole point of StableIds: identical output to row_number over
    // a total sort, with NO window that funnels every row through one
    // task — the cumulative-offset step (a #partitions-row table) runs
    // on the driver, not in a global window
    val plans = collectAll(executed(q("q1h_stable_ids")))
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"q1h plans ${globalWindows.size} empty-partitioning Window node(s) — " +
        "single-task at scale")
  }

  test("runtime bloom-filter injection: a selective dim filter prunes the fact scan rows") {
    import org.apache.spark.sql.functions.col
    // At 100 TB the win from a selective dimension predicate is not the
    // dim-side scan — it's Spark's InjectRuntimeFilter building a bloom
    // filter from the filtered dim keys and applying it INSIDE the fact
    // scan, so most fact rows die before the shuffle. Thresholds are
    // sized for clusters, so force-enable for the gate: the capability
    // must exist and fire, or a scale deployment silently loses it.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // the injection rule bows out entirely when either side is
      // broadcastable (at 100 TB neither fact side is) — model that
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_totalprice") > 400000) // selective dim predicate
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = executed(joined).toString
      assert(plan.contains("might_contain") || plan.contains("bloom_filter"),
        s"no runtime bloom filter injected into the fact side:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("AQE splits a skewed join partition at runtime (isSkew in the final plan)") {
    import org.apache.spark.sql.functions.{col, rpad, when}
    // The engine's answer to hot keys is AQE skew-join (q19's manual salt
    // is for when the hot key is KNOWN); this gates that the runtime path
    // actually fires: one key carrying most of one side must be split
    // into multiple tasks in the finalized adaptive plan.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ/SHJ
      import spark.implicits._
      // left side: 200k rows, 90% on key 7 (the hot key), with padding to
      // make the skewed partition's bytes cross the tiny threshold — the
      // pad must be NON-foldable (derived from id), or Catalyst projects
      // the constant after the join and the shuffle carries ~no bytes
      val left = spark.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, 7L).otherwise(col("id")).as("k"),
          rpad(col("id").cast("string"), 64, "x").as("pad"))
      val right = (0L until 1000L).toDF("k")
      val joined = left.join(right, "k")
      val plan = executed(joined).toString
      assert(plan.contains("isSkew=true") || plan.contains("skewed"),
        s"AQE did not split the skewed partition:\n${plan.take(2000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("bucketed tables co-locate: fact-fact join plans with zero shuffles") {
    import org.apache.spark.sql.functions.col
    // bucketBy co-partitions both sides on the join key at write time —
    // the repeated-join answer at 100 TB: pay the shuffle once, reuse forever
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // dirs persist — remove them so the test is re-runnable
    val wh = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:"))
    Seq("orders_b", "lineitem_b").foreach { t =>
      val d = new java.io.File(wh, t)
      if (d.exists()) {
        d.listFiles().foreach(_.delete()); d.delete()
      }
    }
    spark.read.parquet(s"$dir/orders.parquet")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    spark.read.parquet(s"$dir/lineitem.parquet")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")
    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(org.apache.spark.sql.functions.count(col("*")).as("n"))
    val plans = collectAll(executed(joined))
    val shufflesBeforeAgg = plans.count(_.isInstanceOf[ShuffleExchangeExec])
    // only the tiny 5-group aggregation may shuffle — the join itself must not
    assert(shufflesBeforeAgg <= 1,
      s"bucketed join shuffled ($shufflesBeforeAgg exchanges)")
    assert(joined.collect().map(_.getLong(1)).sum > 0)
  }

  test("bucketed chunk-hash layout: the dedup probe's standing side reads exchange-free") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // The q5y/q8j chunk-hash discipline promoted to a LAYOUT: at 100 TB
    // the historical chunk-hash set is not built per query (q8j's demo
    // shape) — it is written ONCE bucketed on the hash, and every
    // arriving batch (each stream-static micro-batch re-plans this exact
    // batch join) shuffles ONLY itself into bucket alignment. The
    // standing side must read with ZERO exchanges under the join: that
    // is the write-once-probe-forever contract, and it must hold via
    // SMJ + bucketing, not via broadcast (a 100 TB standing set does not
    // broadcast).
    val t = s"chunk_hist_p${ProcessHandle.current().pid()}"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wp = new org.apache.hadoop.fs.Path(wh, t.toLowerCase)
    if (fs.exists(wp)) fs.delete(wp, true)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.queries.TextAnalysis.cdcChunks(docs.filter(col("doc_id") < 30))
      .select(sha2(col("chunk"), 256).as("h")).distinct()
      .write.format("parquet").bucketBy(8, "h").sortBy("h").saveAsTable(t)
    val standing = spark.table(t).withColumn("known", lit(1))
    val probe = graft.queries.TextAnalysis
      .cdcChunks(docs.filter(col("doc_id") >= 30))
      .select(col("doc_id"), sha2(col("chunk"), 256).as("h"))
    val joined = probe.hint("merge").join(standing, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("known").isNotNull, 1L).otherwise(0L)).as("n_known"))
    val plans = collectAll(executed(joined))
    val smj = plans.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"probe did not plan as SMJ:\n${plans.head}")
    // static side subtree (the one containing the bucketed table scan):
    // zero exchanges; probe side: exactly the one shuffle of the batch
    val sides = Seq(smj.get.left, smj.get.right).map(collectAll)
    val (staticSide, probeSide) = {
      def hasBucketScan(ps: Seq[SparkPlan]) = ps.exists {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.bucketedScan
        case _ => false
      }
      if (hasBucketScan(sides(0))) (sides(0), sides(1))
      else { assert(hasBucketScan(sides(1)),
        "no bucketed scan under either join side"); (sides(1), sides(0)) }
    }
    assert(!staticSide.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "the standing chunk-hash side shuffled — the bucketed layout was not used")
    assert(probeSide.exists(_.isInstanceOf[ShuffleExchangeExec]),
      "expected the arriving batch to shuffle into bucket alignment")
    assert(joined.count() > 0)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    if (fs.exists(wp)) fs.delete(wp, true)
  }

  test("native as-of join: unused wide columns pruned down to the parquet scan") {
    import org.apache.spark.sql.functions.col
    // NO manual pre-projection: both sides enter the custom node with all
    // six event columns; only 2 output columns are referenced. The gate:
    // Catalyst's generic ColumnPruning must push projections through the
    // custom AsOfJoin logical node (its `references` exposes just
    // keys + times), so each parquet scan reads only key/time/filter/
    // output columns — never `props`/`value`.
    // ts/ts_ns via the production vintage adapter (NOT a hardcoded micros
    // formula): if the driver flips testdata back to TIMESTAMP(NANOS),
    // cast(long→timestamp) would interpret nanos as seconds and this test
    // would compute garbage ts_ns instead of tracking the fixture
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val l = ev.filter(col("event_type") === "purchase")
    val r = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts_ns").as("c_ts"),
        col("event_id").as("click_id"), col("props").as("c_props"),
        col("value").as("c_value"))
    val out = graft.plans.AsOfJoinOps
      .asofJoin(spark, l, r, "user_id", "c_user", "ts_ns", "c_ts")
      .select(col("event_id"), col("click_id"))
    val scans = collectAll(executed(out)).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 2, s"expected 2 parquet scans, got ${scans.size}")
    for (s <- scans) {
      val read = s.requiredSchema.fieldNames.toSet
      assert(!read.contains("props") && !read.contains("value"),
        s"as-of join scan reads unreferenced wide columns: $read")
    }
    assert(out.count() > 0)
  }

  test("LSH dedup: no document payloads cross any exchange") {
    // the scale invariant: exchanges carry ids/sketches/buckets, never the
    // raw text (at sf0.001 AQE broadcasts the bucket join — also payload-free)
    val plans = collectAll(executed(q("q62_minhash_lsh_dedup")))
    val exchanged = plans.collect {
      case s: ShuffleExchangeExec => s.child.schema.fieldNames.toSeq
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
        b.child.schema.fieldNames.toSeq
    }
    assert(exchanged.nonEmpty)
    assert(!exchanged.exists(_.contains("text")),
      s"raw document text crossed an exchange: $exchanged")
  }

  test("q5e decontamination: benchmark gram set broadcasts; corpus side never shuffles") {
    val plans = collectAll(executed(q("q5e_decontamination")))
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "benchmark gram set should broadcast-hash-join against the corpus grams")
    // the only shuffle allowed is the per-doc count aggregation + final sort —
    // corpus gram rows must meet the benchmark via broadcast, not exchange
    val shuffled = plans.collect { case s: ShuffleExchangeExec =>
      s.child.schema.fieldNames.toSeq }
    assert(!shuffled.exists(f => f.contains("g") && f.contains("doc_id")),
      s"corpus (doc_id, gram) rows crossed a shuffle — benchmark join didn't broadcast: $shuffled")
  }

  test("q6i semantic dedup: no cartesian; rep vectors meet members via broadcast") {
    val plans = collectAll(executed(q("q6i_semantic_dedup")))
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "SemDeDup must stay on broadcast/equi joins")
    // the anchor comparison is member-vs-ONE-rep: the rep side (√N rows +
    // vectors) must broadcast, never shuffle the corpus against it
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "cell-rep join should be a broadcast hash join")
  }

  test("q5m index update: serve joins are equi/broadcast; no cartesian") {
    val plans = collectAll(executed(q("q5m_ann_index_update")))
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "incremental-index serve must stay on broadcast/equi joins")
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "probe/memberships should meet via broadcast hash joins")
  }

  test("q6g bloom dedup: filter built once in-plan as a subquery, one confirm anti join") {
    val executedPlan = executed(q("q6g_bloom_incremental_dedup"))
    val s = executedPlan.toString
    assert(s.contains("might_contain"), s"bloom probe missing from plan:\n$s")
    assert(s.contains("bloom_filter_agg"), s"bloom build missing from plan:\n$s")
    val plans = collectAll(executedPlan)
    // exactly one subquery builds the bloom (scalar subquery, reused by both
    // branches) — the sketch is an in-plan aggregate, not a driver collect
    val bloomBuilds = plans.count(_.toString.startsWith("Subquery"))
    assert(bloomBuilds >= 1, "bloom should be built by an in-plan scalar subquery")
    // one anti join total: the novel branch (bloom-negative rows) joins nothing
    val antiJoins = plans.count { p =>
      val n = p.nodeName.toLowerCase
      p.toString.contains("LeftAnti") &&
        (n.contains("join") || n.contains("hashjoin"))
    }
    assert(antiJoins == 1,
      s"expected exactly one confirm anti join, found $antiJoins")
  }

  test("q9i anomaly scoring: per-type baselines broadcast onto the events scan") {
    // the median/MAD frames are |event_type|-row aggregates; the scoring
    // joins must be broadcast hash joins (a shuffled join would re-hash
    // the whole events table twice just to attach two doubles per type)
    val plans = collectAll(executed(q("q9i_event_anomaly")))
    assert(plans.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
      "median and MAD frames should both attach via broadcast hash joins")
  }

  test("q9k record linkage: N*W sorted-neighborhood candidates, no global window") {
    // the candidate stage must stay corpus-linear (exactly N*W pairs from
    // the rank equi join): a nested-loop/cartesian would mean the
    // neighbor rank fell out of the join condition, and an
    // empty-partitioning window would mean the global sort rank
    // regressed to the single-task row_number the StableIds operator
    // exists to avoid — either one is the quadratic/serial shape the
    // round-8 blocking scheme was replaced for
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plans = collectAll(executed(q("q9k_record_linkage")))
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "q9k must pair candidates through the rank equi join")
    // StableIds computes its offsets on the driver, so q9k plans no
    // nested loop at all — one would be the corpus-sized pair
    // generation gone quadratic
    val bnlj = plans.collect { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnlj.isEmpty, s"q9k plans ${bnlj.size} nested-loop join(s)")
    assert(plans.exists(p => p.toString.contains("jaro_winkler")),
      "the native jaro_winkler expression should appear in the plan")
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"q9k plans ${globalWindows.size} empty-partitioning Window node(s) — " +
        "the sort rank must come from StableIds, not a global window")
  }

  test("qa1 DSIR: log-ratio table broadcasts onto the feature stream, no cartesian on corpus frames") {
    // the term table is <=512 rows by construction; if it stopped
    // broadcasting, the whole bigram feature stream would shuffle to meet
    // it — the exact exchange the design exists to avoid
    val plans = collectAll(executed(q("qa1_dsir_selection")))
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "qa1's per-doc scoring join should be a broadcast hash join")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qa1 must not plan a cartesian over corpus-sized frames")
  }

  test("qa2 UniMax: zero empty-partitioning windows (waterfilling is triangular joins)") {
    // every waterfilling step (rank, cumsum, uncapped rank) runs on the
    // |sources|-row frame via triangular joins; a global window here
    // would be the single-task shape the q9p idiom replaces
    val plans = collectAll(executed(q("qa2_unimax_mix")))
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qa2 plans ${globalWindows.size} empty-partitioning Window node(s)")
  }

  test("q9n length binning: zero empty-partitioning windows (the ntile shape)") {
    // equi-depth binning is the classic ntile() call — which is a global
    // single-task sort; the operator exists to do it with a broadcast
    // boundary frame + row-local bucketing instead
    val plans = collectAll(executed(q("q9n_length_bins")))
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"q9n plans ${globalWindows.size} empty-partitioning Window node(s) — " +
        "single-task at scale")
  }

  test("qa5 incremental minhash: serve reads the persisted index, drop list broadcasts, no window") {
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plans = collectAll(executed(q("qa5_incremental_minhash")))
    // the hot-shingle DROP list must broadcast onto both posting streams
    // — if it stopped, every shingle row would shuffle to meet a list
    // that is tiny by construction (DF > 200 shingles only)
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "qa5's drop-list anti joins should be broadcast hash joins")
    // candidate generation is an equi join on (band, bh) against the
    // persisted bucket table — never a nested loop over corpus frames
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]) &&
      !plans.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "qa5 candidates must come from the LSH bucket equi join")
    // the serve phase reads the persisted index files, not a recompute:
    // the executed plan must scan the materialized parquet buckets
    assert(plans.exists(p => p.toString.contains("qa5_inc_minhash")),
      "qa5's serve side should scan the persisted index parquet")
    // best-match-per-doc is a groupBy max(struct), not a window
    assert(!plans.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "qa5 should pick the best match with an aggregate, not a window")
  }

  test("qa7 token fertility: merges broadcast through the encode, one corpus pass") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("qa7_token_fertility")))
    // the trained-merge frame rides as a broadcast onto the scan; the
    // slice metadata rides THROUGH the encode, so there is no join back
    // to the corpus — any sort-merge join means a second corpus pass
    // plus a doc_id shuffle crept in
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "qa7 must not join the encode output back to the corpus")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qa7 must not plan a cartesian")
    // the corpus is scanned at most twice: once by merge training's
    // vocab aggregate, once by the encode pass — a third scan means the
    // fertility fold joined back to documents for its metadata
    // identity-dedup: collectAll re-traverses the subtree under every
    // ReusedExchangeExec, so the same physical scan node appears once
    // per reuse — count distinct scan NODES, not visits
    val docScans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("documents") => s
    }.map(System.identityHashCode).distinct
    assert(docScans.size <= 2,
      s"qa7 scans documents ${docScans.size} times (train + encode = 2)")
  }

  test("qab t-closeness: one corpus pass, aggregated frames broadcast, class-partitioned cumsum") {
    val plans = collectAll(executed(q("qab_t_closeness")))
    // the (QI, bin) groupBy is the only corpus touch; g/tot/cls all fold
    // from it — a second customer scan means someone re-counted the corpus
    val custScans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("customer") => s
    }.map(System.identityHashCode).distinct
    assert(custScans.size <= 1,
      s"qab scans customer ${custScans.size} times (the EMD grid is " +
        "built from aggregated frames, not corpus re-scans)")
    // the cumulative-difference window is partitioned by QI class — an
    // empty partitionSpec would funnel the grid through one task
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qab plans ${globalWindows.size} empty-partitioning Window node(s)")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qab must not plan a cartesian")
  }

  test("qac SQ8: nested loops only broadcast the bounds row or the query block") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    val plans = collectAll(executed(q("qac_sq_int8")))
    // the affine bounds fold to ONE broadcast row (centroid idiom) and the
    // serve side broadcasts the 10-row query block; any other BNLJ input
    // means a corpus-sized frame met a nested loop
    val bnl = plans.collect { case j: BroadcastNestedLoopJoinExec => j }
    bnl.foreach { j =>
      val broadcastSide = j.children.flatMap(collectAll).collectFirst {
        case b: BroadcastExchangeExec => collectAll(b).map(_.toString).mkString
        case qs: QueryStageExec if qs.plan.isInstanceOf[BroadcastExchangeExec] =>
          collectAll(qs.plan).map(_.toString).mkString
      }.getOrElse(fail(s"BNLJ without broadcast side: $j"))
      assert(broadcastSide.contains("mn") || broadcastSide.contains("qid") ||
        broadcastSide.contains("qe"),
        s"qac BNLJ must broadcast the bounds row or the query block, got:\n$broadcastSide")
    }
    // top-k ranking is partitioned by query id, never a global sort
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qac plans ${globalWindows.size} empty-partitioning Window node(s)")
  }

  test("qae range-partition plan: splitters broadcast, corpus never shuffles rows, no global window") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("qae_range_partition_plan")))
    // assignment is a row-local fold over the broadcast splitter row; the
    // audit groupBy is the only exchange the corpus feeds — a sort-merge
    // join anywhere means a corpus-sized frame met another one
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "qae must not sort-merge join (splitters/totals broadcast)")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qae must not plan a cartesian")
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qae plans ${globalWindows.size} empty-partitioning Window node(s)")
    // count-scalar + sample + assignment (+ the balance total) — bounded
    val liScans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("lineitem") => s
    }.map(System.identityHashCode).distinct
    assert(liScans.size <= 4,
      s"qae scans lineitem ${liScans.size} times (count + sample + assign + total)")
  }

  test("qah compaction plan: bin assignment windows by day, never the global file list") {
    val plans = collectAll(executed(q("qah_compaction_plan")))
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qah plans ${globalWindows.size} empty-partitioning Window node(s)")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qah must not plan a cartesian")
  }

  test("qaj incremental stats: serve reads the persisted catalog, never the orders corpus") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("qaj_incremental_stats")))
    // the returned plan is the SERVE through the final catalog
    // generation: it must read the persisted v2 parquet and the lineitem
    // day aggregate only — an orders scan here means the snapshot was
    // re-scanned to refresh statistics, the cost the operator exists to
    // avoid (the merges scan only their own ingest batches, eagerly,
    // before this plan runs)
    val ordersScans = plans.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.toString.contains("orders.parquet") => sc
    }
    assert(ordersScans.isEmpty,
      s"qaj serve plan scans orders ${ordersScans.size} times")
    assert(plans.exists {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.toString.contains("qaj_stats_v2")
      case _ => false
    }, "qaj serve must read the persisted v2 catalog generation")
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "qaj's day-frame join should be a broadcast hash join")
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "qaj serve must not sort-merge join")
  }

  test("qak histogram maintenance: serve reads the merged generation; corpus touched only by the exact eval") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("qak_histogram_maintenance")))
    // the returned plan is the eval through the merged catalog: the
    // histogram side comes from the persisted v1 parquet; the ONLY
    // lineitem scan allowed is the exact-count verification pass —
    // a second one means the histogram was recomputed from the corpus
    val liScans = plans.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec
          if sc.toString.contains("lineitem") => sc
    }.map(System.identityHashCode).distinct
    assert(liScans.size <= 1,
      s"qak serve plan scans lineitem ${liScans.size} times (exact eval only)")
    assert(plans.exists {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
        sc.toString.contains("qak_hist_v1")
      case _ => false
    }, "qak serve must read the persisted merged histogram generation")
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "qak serve must not sort-merge join")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qak must not plan a cartesian")
  }

  test("qag watermark profile: the global running max plans no empty-partitioning window") {
    val plans = collectAll(executed(q("qag_watermark_profile")))
    // the watermark running max is the two-phase StableIds shape — a
    // single-task MAX() OVER (ORDER BY ...) would be the q0d scale-killer
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qag plans ${globalWindows.size} empty-partitioning Window node(s)")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qag must not plan a cartesian")
  }

  test("qaf histogram selectivity: bounded corpus passes, post-histogram frames never sort-merge") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("qaf_histogram_selectivity")))
    // count + sample + bucket pass + exact pass; everything downstream is
    // a ≤16-row frame meeting broadcast/triangular joins only
    val liScans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("lineitem") => s
    }.map(System.identityHashCode).distinct
    assert(liScans.size <= 4,
      s"qaf scans lineitem ${liScans.size} times (count + sample + buckets + exact)")
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "qaf must not sort-merge join (histogram frames broadcast)")
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "qaf must not plan a cartesian")
    val globalWindows = plans.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"qaf plans ${globalWindows.size} empty-partitioning Window node(s)")
  }

  test("qad join-size estimate: day frames meet in a broadcast join, corpus never joins row-to-row") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plans = collectAll(executed(q("qad_join_size_estimate")))
    // both sides fold to |days|-row aggregates BEFORE the join; the join
    // itself broadcasts the lineitem day frame — a sort-merge join here
    // means a corpus-sized frame reached the estimator join
    assert(plans.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "qad's day-frame join should be a broadcast hash join")
    assert(!plans.exists(_.isInstanceOf[SortMergeJoinExec]),
      "qad must not sort-merge join (both inputs are day-level aggregates)")
    val bigScans = plans.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.toString.contains("orders") || s.toString.contains("lineitem") => s
    }.map(System.identityHashCode).distinct
    assert(bigScans.size <= 2,
      s"qad scans the fact tables ${bigScans.size} times (one pass each)")
  }

  test("qam: the catalog prices OC_then_L cheaper and the executed plan builds it") {
    // the pricing must pick the dimension-side intermediate
    // (orders⋈customer ≈ |orders|) over lineitem⋈orders (≈ |lineitem|)
    val cat = graft.queries.Joins.starCatalog(spark, dir)
    val pick = graft.queries.Joins.pickOrder(
      graft.queries.Joins.joinOrderPricing(cat))
    assert(pick == "OC_then_L", s"TPC-H ratios must price OC first, got $pick")
    // and the executed star plan: customer meets orders in a BROADCAST
    // join BELOW the lineitem shuffle join — the picked left-deep shape
    val plans = collectAll(executed(
      graft.queries.Joins.starJoin(spark, dir, pick)))
    // match on the JOIN KEYS (node toString prints the whole subtree, so
    // a substring check would hit the top join first)
    val dimJoin = plans.collectFirst {
      case b: BroadcastHashJoinExec
          if (b.leftKeys ++ b.rightKeys).exists(_.toString.contains("c_custkey")) => b
    }
    assert(dimJoin.nonEmpty, "customer dimension must meet orders in a broadcast join")
    // the picked left-deep shape: the orders⋈customer intermediate is
    // built FIRST, so no lineitem scan appears in that join's subtree
    // (at tiny SF AQE may broadcast the lineitem join above it too —
    // that's fine; the ORDER is what the planner decided)
    assert(!collectAll(dimJoin.get).exists(p =>
        p.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec] &&
          p.toString.contains("lineitem")),
      "lineitem must join ABOVE the dimension intermediate, not inside it")
  }

  test("qd3: the DP prices the BUSHY (LO)(CN) split cheapest and executes it") {
    import graft.queries.{Aggregates, Joins}
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    // the filtered-leaf estimate feeds the lattice; at TPC-H ratios the
    // bushy split must undercut both left-deep chains — a left-deep-only
    // enumerator (qam's) cannot see this plan at all
    val li0 = Tables.load(spark, dir, "lineitem")
    val nlEff = Aggregates.priceHistEstimate(spark,
        Aggregates.priceHistBuckets(li0, Aggregates.priceHistBounds(li0)),
        25000.0)
      .select(org.apache.spark.sql.functions.floor(col("est_rows"))
        .cast("long").as("nl_eff"))
    val pick = Joins.selingerPick(
      Joins.selingerLattice(Joins.selingerCatalog(spark, dir), nlEff))
    assert(pick == "(LO)(CN)",
      s"TPC-H ratios must price the bushy split cheapest, got $pick")
    // executed shape: the (customer ⋈ nation) intermediate is built
    // INDEPENDENTLY of the fact side — a broadcast join on c_custkey
    // whose subtree scans customer and nation but NEITHER fact table
    val plans = collectAll(executed(Joins.selingerJoinOn(
      li0.filter(col("l_extendedprice") <= 25000.0)
        .select(col("l_orderkey"), col("l_extendedprice")),
      Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
      Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
      Tables.load(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name")),
      pick)))
    val bushyJoin = plans.collectFirst {
      case b: BroadcastHashJoinExec
          if (b.leftKeys ++ b.rightKeys)
            .exists(_.toString.contains("c_custkey")) => b
    }
    assert(bushyJoin.nonEmpty, "the (LO)⋈(CN) join must be a broadcast join")
    val cnSide = collectAll(bushyJoin.get).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(cnSide.exists(_.toString.contains("nation")) &&
        cnSide.exists(_.toString.contains("customer")),
      "the broadcast side must be the customer⋈nation intermediate")
    // and the fact tables meet BELOW it in their own subtree: the bushy
    // join's build side never scans a fact table
    val buildPlan = bushyJoin.get.buildSide match {
      case org.apache.spark.sql.catalyst.optimizer.BuildLeft =>
        bushyJoin.get.left
      case org.apache.spark.sql.catalyst.optimizer.BuildRight =>
        bushyJoin.get.right
    }
    val buildScans = collectAll(buildPlan)
      .filter(_.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
    assert(!buildScans.exists(p => p.toString.contains("lineitem") ||
        p.toString.contains("orders")),
      "no fact scan may sit inside the (CN) build side")
  }
}
