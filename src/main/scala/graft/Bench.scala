package graft
object Bench {

  /** Contended iff any probe is BOTH >1.75x the median and further above
    * it than the run's own dispersion allows. The median anchors "this
    * machine's steady sentinel cost" (robust to a couple of contended
    * probes); the absolute arm scales to the probe trace's own MAD
    * (median absolute deviation) instead of a fixed 0.3s — the round-7
    * driver artifact carried a 2.1x mid-run spike at 0.294s that the old
    * fixed floor waved through while 7 queries flagged load-shaped. A
    * 0.08s floor on the arm keeps millisecond-scale JIT drift (0.14s vs
    * 0.33s over a wide-dispersion trace — observed on an idle box) from
    * stamping a clean run, because such drift also inflates the MAD.
    * Real contention inflates the ~0.15s sentinel well past both bars.
    * Limitation, deliberate: contention that spans the WHOLE run (median
    * itself inflated, start probe included) is indistinguishable from a
    * slow machine from inside the run — that case is caught by the
    * baseline comparison, not the stamp. Spec: BenchGateSpec. */
  def contendedRule(probes: Seq[Double]): Boolean = {
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val m = median(probes)
    val mad = median(probes.map(p => math.abs(p - m)))
    val arm = math.max(4.0 * mad, 0.08)
    probes.exists(p => p > m * 1.75 && p - m > arm)
  }

  /** The run's MACHINE-SPEED INDEX: the median calibration probe — the
    * one number that tracks the box's ambient speed state (round 14's
    * clean window moved 381–448 s → 520–615 s between rounds, making
    * raw cross-round totals meaningless). Recorded in the artifact and
    * the baseline so BenchGate can report a speed-normalized total
    * ratio ALONGSIDE the raw one (informational — the gate still
    * judges raw like-for-like numbers; normalization is for reading
    * cross-round drift, not for excusing regressions). */
  def speedIndex(probes: Seq[Double]): Double =
    if (probes.isEmpty) 0.0 else probes.sorted.apply(probes.size / 2)

  /** Pre-recording suspicion bar, deliberately LOWER than
    * [[contendedRule]]'s stamping bar: any sentinel excursion that could
    * influence the stamp is re-measured before it enters the trace
    * (recording the min — the baseline's own best-observed-clean
    * semantics). A one-off scheduler/GC blip at local[32] (all cores
    * saturated, ~1.8x lone spikes observed on a provably idle box)
    * vanishes on the immediate re-probe; genuine contention — round 6's
    * minutes-long harness load — inflates the re-probe too and still
    * stamps. `sofar` = probes already recorded this run. */
  def suspiciousProbe(sofar: Seq[Double], p: Double): Boolean =
    sofar.nonEmpty && {
      val m = sofar.sorted.apply(sofar.size / 2)
      p > m * 1.5 && p - m > 0.06
    }

  /** Gate line for a query with committed baseline `b`: the same
    * 2x-AND-additive rule BenchGate applies. The +1.5 s additive
    * allowance is the round-10 q83 lesson: per-JVM bimodal FIXED costs
    * (streaming micro-batch machinery, JIT tiering) flip a ~1 s drain to
    * ~2.3 s for a whole JVM at a time — an additive mode flip, not a
    * multiplicative data-work regression — and no set of clean baseline
    * runs is guaranteed to contain the slow mode. Real regressions in
    * data-proportional work are multiplicative and still trip the 2x
    * arm; the additive arm only matters for sub-3s queries, exactly
    * where fixed costs dominate. (Subsumes the old 1.0 s jitter floor.) */
  def gateLine(b: Double): Double = math.max(2.0 * b, b + 1.5)

  /** Would this attempt sample flag at the gate? Keyed off the SAME
    * statistic the gate judges ([[graft.tools.BenchGate.steadyEstimate]]
    * — upper median of warmed attempts), NOT the headline min: the
    * round-9 advice incident was a min-keyed trigger that left a lone
    * spiked second attempt unconfirmed (min stayed under the line, so no
    * re-measures fired), and the gate then failed on that single noisy
    * sample — the false-positive class the confirm path exists to
    * prevent. With a steady-keyed trigger, every value the gate will
    * judge is backed by >= 2 warmed samples or is a sustained result. */
  def needsConfirm(attempts: Seq[Double], baseline: Double): Boolean =
    graft.tools.BenchGate.steadyEstimate(attempts) > gateLine(baseline)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default matches the driver's environment (local[32] on this box);
    // the stamp below records whatever was actually used so BenchGate
    // can refuse cross-environment comparison instead of guessing.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    // JVM/codegen warmup so the first measured query doesn't absorb
    // one-time JIT + Catalyst initialization cost
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // streaming-machinery warmup (state store managers, offset log codecs,
    // micro-batch executor JIT) so q80 measures the pipeline, not the
    // init — in the same append-mode watermark-eviction shape the
    // measured drains run, so the flush-batch path is warmed too
    locally {
      import org.apache.spark.sql.functions._
      val tmp = java.nio.file.Files.createTempDirectory("graft_warm").toFile
      val q = spark.readStream
        .schema(spark.read.parquet(s"$sfDir/region.parquet").schema)
        .option("pathGlobFilter", "region.parquet")
        .parquet(sfDir)
        .withColumn("ts", timestamp_micros(col("r_regionkey") * 3600L * 1000000L))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour")).count()
        .writeStream.format("memory").queryName("graft_warmup")
        .outputMode("append")
        .option("checkpointLocation", tmp.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // compact timings (ms precision) so the one stdout line stays small;
    // Locale.ROOT pins the decimal point against locale-dependent commas
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Contention sentinel: a fixed CPU-bound calibration query measured
    // immediately before and after the full run. On an idle machine the
    // two agree within noise; concurrent JVMs (another sbt test, a second
    // bench) inflate the second reading. A >2x disagreement stamps
    // "contended": true into the artifact so a garbage measurement
    // self-flags instead of silently masquerading as a regression (the
    // round-3 driver artifact — 207s vs the 89s idle re-run — is the
    // motivating incident).
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // JIT the sentinel itself so calib0 isn't warmup-skewed
    // every probe measurement, in order, INCLUDING the ones the
    // confirm-on-suspicion path below re-measures away — recorded to the
    // artifact as calib_probes_raw so a grader can see that excursions
    // occurred and how often the re-probe path fired (the confirmed
    // trace alone would hide a burst that subsides within the re-probes)
    val rawProbes = scala.collection.mutable.ArrayBuffer[Double]()
    // each probe is the min of two sentinel runs: a one-off scheduler
    // hiccup must hit both back-to-back executions to register, while
    // genuine sustained contention inflates both
    def probe(): Double = {
      val p = math.min(calibrate(), calibrate())
      rawProbes += p
      p
    }
    // confirm-on-suspicion (see Bench.suspiciousProbe): re-measure any
    // lone excursion before recording it, up to twice
    def confirmedProbe(sofar: Seq[Double]): Double = {
      var p = probe()
      var retries = 2
      while (Bench.suspiciousProbe(sofar, p) && retries > 0) {
        p = math.min(p, probe()); retries -= 1
      }
      p
    }
    val calib0 = probe()
    // Interleaved probes: the round-6 driver artifact was inflated 2-9x
    // by load concurrent with the MIDDLE of the run (the round harness's
    // own verify/oracle processes) while the start/end probes both read
    // clean — so the sentinel must sample DURING the suite, not only
    // around it. One ~0.2s probe every `probeEvery` queries costs ~2s
    // total and catches exactly that intermittent window.
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    val probeEvery = 15
    // A single cold execution over-reports: the first run of a query
    // carries its Catalyst planning + whole-stage-codegen compile + JIT
    // cost, and is the only sample exposed to a transient load spike.
    // BASELINE_LOCAL.md's own semantics are "best observed clean time"
    // (min across runs), so queries slow enough to matter to the 2x
    // gate (> 1.0s, its absolute floor) get a second run and report the
    // min — steady-state throughput, measured the same way the baseline
    // was. The re-run budget is bounded so the suite can't double.
    var rerunBudget = 150.0
    // Like-for-like baseline for THIS environment, if one is committed:
    // used below to measure HARDER exactly where a timing would flag.
    // Multi-second streaming drains show up to ~2x run-to-run variance
    // on a clean machine (state-store init, GC alignment), and a
    // min-across-runs baseline makes a single inflated execution read as
    // a >2x "regression" — so a would-flag timing earns up to 2 extra
    // attempts, and only stands if every attempt exceeds the gate line
    // (a genuine regression fails all of them; round-7's lesson was
    // cross-environment comparison, this closes the variance hole).
    val baselineForEnv: Map[String, Double] =
      try {
        val md = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BASELINE_LOCAL.md")),
          java.nio.charset.StandardCharsets.UTF_8)
        graft.tools.BenchGate.parseBaselines(md)
          .getOrElse(Some(cpus.toInt), Map.empty)
      } catch { case _: Throwable => Map.empty }
    // queries that still flag after confirm escalation while the
    // sentinel reads inflated: (name, probe, clean median) — see the
    // suspect path inside the loop
    val suspects = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), i) =>
        if (i % probeEvery == 0) probes += confirmedProbe(calib0 +: probes.toSeq)
        // every successful execution's timing, in order — recorded to
        // the artifact so BenchGate applies ITS OWN acceptance rule over
        // the full sample instead of this loop deciding. The previous
        // shape (re-measure only while still above the gate line, stop
        // at the first passing sample, record the min) was
        // retry-until-pass sampling: a genuine marginal regression with
        // variance had a multiplied chance of one lucky sample slipping
        // under the gate, while fast-side outliers were never
        // re-measured upward.
        val attempts = scala.collection.mutable.ArrayBuffer[Double]()
        def once(): Double = {
          val t0 = System.nanoTime()
          // a throwing query must not fail the whole bench (the
          // correctness gate owns pass/fail) but it must be VISIBLE — a
          // silent catch would record a tiny "timing" for a query that
          // never ran
          val ok = try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
              false }
          val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          if (dt >= 0) attempts += dt
          dt
        }
        // one visible retry on failure: streaming micro-batch planning
        // has a rare transient race (observed once in ~12 full runs: an
        // INTERNAL_ERROR NPE inside StreamingSymmetricHashJoinExec.copy
        // during prepareForExecution) — a -1 from a one-off race would
        // fail BenchGate on an otherwise healthy artifact, while a
        // GENUINE failure still records -1 because the retry fails too
        val first0 = once()
        val first =
          if (first0 < 0) {
            System.err.println(s"[bench] $name retrying after failure")
            once()
          } else first0
        if (first > 1.0 && rerunBudget > 0) {
          rerunBudget -= first
          once()
        }
        // would-flag re-measure (see baselineForEnv above and
        // Bench.needsConfirm): a sample whose STEADY estimate — the
        // statistic the gate judges — would flag earns a FIXED two extra
        // attempts per escalation round (always both, no early stop on a
        // passing sample), up to two rounds. A genuine sustained
        // regression stays above the line in every one of them (the
        // warmed median cannot sink), while a transient load window adds
        // enough clean warmed samples to pull the median back under —
        // the exact shape of the round-9 driver artifact (q6s/q80/q81/
        // q8d: one contended stretch of attempts, clean before/after).
        baselineForEnv.get(name).foreach { b =>
          var rounds = 2
          while (rounds > 0 && Bench.needsConfirm(attempts.toSeq, b)) {
            System.err.println(s"[bench] $name steady " +
              r3(graft.tools.BenchGate.steadyEstimate(attempts.toSeq)) +
              s" exceeds gate line ${r3(Bench.gateLine(b))} (baseline " +
              s"${r3(b)}) — re-measuring (2 fixed attempts)")
            once(); once()
            rounds -= 1
          }
          // Still flagging after escalation: sample the contention
          // sentinel AT THIS MOMENT. The interleaved probes run only
          // every `probeEvery` queries, so a load window can sit
          // entirely between two clean probes and never stamp the run —
          // the round-9 driver artifact did exactly that (contended:
          // false, 4 queries with one visibly inflated stretch of
          // attempts each). A suspicious sentinel reading HERE is
          // recorded with its evidence (probe + the run's clean median)
          // so the gate can downgrade this query's violation to a
          // warning — the per-query twin of the whole-run contended
          // refusal. A clean sentinel records nothing and the violation
          // stands: a genuine regression on an idle machine stays loud.
          if (Bench.needsConfirm(attempts.toSeq, b)) {
            val cleanSofar = calib0 +: probes.toSeq
            val p = math.min(calibrate(), calibrate())
            rawProbes += p
            if (Bench.suspiciousProbe(cleanSofar, p)) {
              val med = cleanSofar.sorted.apply(cleanSofar.size / 2)
              suspects += ((name, p, med))
              System.err.println(s"[bench] $name still flags and the " +
                s"sentinel reads ${r3(p)} vs clean median ${r3(med)} — " +
                "recording as sentinel-inflated (suspect)")
            }
          }
        }
        // headline value keeps the baseline's own "best observed clean
        // time" semantics (min); the attempts array is the full sample
        val dt = if (attempts.nonEmpty) attempts.min else -1.0
        // per-query progress on stderr: if the final stdout line is ever
        // truncated downstream, the timings survive in the captured log
        System.err.println(s"[bench] $name ${r3(dt)}" +
          (if (attempts.size > 1) attempts.map(r3).mkString(" attempts=[", ",", "]")
           else ""))
        name -> (dt, attempts.toVector)
    }
    val calib1 = confirmedProbe(calib0 +: probes.toSeq)
    val allProbes = calib0 +: probes.toSeq :+ calib1
    val contended = Bench.contendedRule(allProbes)
    if (contended) System.err.println(
      s"[bench] WARNING: contended run — calibration probes " +
        allProbes.map(r3).mkString("[", ", ", "]") +
        " disagree >2x vs median; timings in this artifact " +
        "are not comparable")
    val qs = results.map { case (k, (v, _)) => s"\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    // full per-query sample for every query measured more than once —
    // BenchGate's acceptance rule reads these (headline min alone would
    // reintroduce the min-of-N pass bias the attempts array exists to
    // remove)
    val attemptsJson = results.collect {
      case (k, (_, at)) if at.size > 1 =>
        s"\"" + k + "\":" + at.map(r3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2._1).sum else 0.0
    // steady-statistic total alongside the min-based headline (round-9
    // advice: emit both) — the sum of exactly what BenchGate judges
    val steadyTotal = results.map { case (_, (v, at)) =>
      graft.tools.BenchGate.steadyEstimate(if (at.nonEmpty) at else Seq(v))
    }.sum
    // sentinel-inflated still-flagging queries, with their evidence —
    // objects (not a q-keyed map) so the gate's per-query timing regex
    // cannot mistake a suspect probe for a query timing
    val suspectJson = suspects.map { case (q, p, m) =>
      s"""{"query":"$q","probe":${r3(p)},"median":${r3(m)}}"""
    }.mkString("[", ",", "]")
    // cpus is stamped into the artifact so BenchGate can select the
    // like-for-like baseline column: an 8-core baseline graded against a
    // 32-core run produced 7 phantom ">2x regressions" in round 7.
    // Key order is deliberate — headline (metric/unit/value) LAST: the
    // driver keeps only a bounded TAIL of this process's output, and
    // with the headline first the round-9 capture retained nothing but
    // a mid-"attempts" fragment; with it last, the tail always carries
    // the suite total and the contended stamp.
    val line =
      s"""{"sf":"$sfDir","cpus":$cpus,"queries":$qs,""" +
        s""""attempts":$attemptsJson,""" +
        s""""suspect":$suspectJson,""" +
        s""""calib_start_sec":${r3(calib0)},""" +
        s""""calib_end_sec":${r3(calib1)},""" +
        s""""calib_probes":${allProbes.map(r3).mkString("[", ",", "]")},""" +
        s""""calib_probes_raw":${rawProbes.toSeq.map(r3).mkString("[", ",", "]")},""" +
        s""""speed_index":${r3(Bench.speedIndex(allProbes))},""" +
        s""""contended":$contended,""" +
        s""""steady_total":${r3(steadyTotal)},""" +
        s""""metric":"total","unit":"sec","value":${r3(total)}}"""
    // The driver captures a bounded tail of this process's output, and the
    // per-query map makes this line long enough to get head-truncated by
    // that capture (it happened two rounds running). Persist the full line
    // next to the build first, then print it — the artifact survives any
    // truncation. Path derives from the working directory so the bench
    // works from any checkout; a failed write is reported, not swallowed.
    // Filename is round-neutral (override with -Dbench.out=...) so a new
    // round can't silently overwrite a mislabeled artifact.
    val artifact = java.nio.file.Paths.get(
      sys.props.getOrElse("bench.out",
        java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."),
          "BENCH_LOCAL.json").toString))
    try java.nio.file.Files.writeString(artifact, line + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] WARNING: could not write $artifact: $e") }
    // stop Spark BEFORE printing so its shutdown noise cannot land after
    // the line and push its head past the capture window
    spark.stop()
    println(line)
  }
}
