package graft

import org.apache.spark.sql.functions._

import graft.operators.SuffixRanks

/** Property check: after [[SuffixRanks.Rounds]] doubling rounds, the
  * distributed rank of every position equals the dense rank of its
  * suffix truncated to 2^Rounds chars under plain lexicographic order
  * (the terminator rule — a shorter suffix before any extension — is
  * exactly what string comparison does). Random corpora, driver-side
  * brute force as the reference. */
class SuffixRanksPropSpec extends SparkSpec {
  import spark.implicits._

  private val L = 1 << SuffixRanks.Rounds // 16

  test("prefix-doubling ranks equal brute-force truncated-suffix dense ranks") {
    val rnd = new scala.util.Random(20260815)
    // duplicated substrings on purpose: half the docs share a seeded
    // boilerplate snippet so cross-doc rank groups actually form
    val boiler = rnd.alphanumeric.filter(_.isLower).take(12).mkString
    val texts = (0L until 24L).map { i =>
      val base = (1 to (5 + rnd.nextInt(36)))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
      val t = if (i % 2 == 0) base + boiler else base
      (i, t)
    }
    val d = texts.toDF("doc_id", "text")
    val got = SuffixRanks.rounds(d).last
      .select(col("doc_id"), col("pos"), col("r"))
      .as[(Long, Long, Long)].collect()
      .map { case (id, pos, r) => (id, pos) -> r }.toMap
    // brute force: dense rank of substr(text, pos, 16) across the corpus
    val suffixes = texts.flatMap { case (id, t) =>
      (1 to t.length).map(p => ((id, p.toLong), t.substring(p - 1)
        .take(L)))
    }
    val rankOf = suffixes.map(_._2).distinct.sorted.zipWithIndex
      .map { case (s, i) => s -> (i + 1L) }.toMap
    assert(got.size == suffixes.size)
    suffixes.foreach { case (key, s) =>
      assert(got(key) == rankOf(s),
        s"position $key: got rank ${got(key)}, want ${rankOf(s)} for '$s'")
    }
  }

  test("settled-group pruning ≡ unpruned doubling, every round, ranks AND group sizes") {
    import graft.operators.{IterationCheckpoint, StableIds}
    val rnd = new scala.util.Random(20260816)
    // a corpus with BOTH regimes: repetitive docs (groups persist) and
    // mostly-unique docs (groups settle early — the pruning's subject)
    val texts = (0L until 30L).map { i =>
      val t =
        if (i % 3 == 0) (1 to 40).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
        else rnd.alphanumeric.take(8 + rnd.nextInt(30)).mkString
      (i, t)
    }
    val d = texts.toDF("doc_id", "text")
    // the pre-round-15 unpruned doubling, replayed verbatim as the
    // reference (every position through every round's join + key map)
    def unpruned(dd: org.apache.spark.sql.DataFrame) = {
      var ranks = IterationCheckpoint.cut(SuffixRanks.positions(dd))
      (1 to SuffixRanks.Rounds).map { k =>
        val gap = 1 << (k - 1)
        val shifted = ranks.select(col("doc_id"),
          (col("pos") - gap).as("pos"), col("r").as("r2"))
        val keyed = ranks.join(shifted, Seq("doc_id", "pos"), "left")
          .select(col("doc_id"), col("pos"), col("r").as("r1"),
            coalesce(col("r2"), lit(0L)).as("r2"))
        val keys = StableIds.assign(
          keyed.select(col("r1"), col("r2")).distinct(),
          Seq(col("r1"), col("r2")), SuffixRanks.Partitions, "nr")
        ranks = IterationCheckpoint.cut(keyed.join(keys, Seq("r1", "r2"))
          .select(col("doc_id"), col("pos"), col("nr").as("r")))
        ranks
      }
    }
    val pruned = SuffixRanks.roundsWithGroups(d)
    val ref = unpruned(d)
    for (k <- 0 until SuffixRanks.Rounds) {
      val got = pruned(k)
        .select(col("doc_id"), col("pos"), col("r"), col("grp"))
      val refGrp = ref(k).groupBy(col("r")).agg(count(lit(1)).as("grp"))
      val want = ref(k).join(refGrp, Seq("r"))
        .select(col("doc_id"), col("pos"), col("r"), col("grp"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"round ${k + 1}: pruned doubling diverged from unpruned")
    }
  }

  test("observed active count matches the frame, both regimes") {
    // the pruning decision reads |positions in groups > 1| as a metric
    // observed on the round's own cut instead of a separate count job;
    // pin it to a count of the returned frame in every round, under
    // executor-local blocks and under a durable checkpoint dir (two
    // corpus regimes: boilerplate docs keep groups active, unique docs
    // settle, so some rounds prune and some do not)
    import graft.operators.IterationCheckpoint
    val rnd = new scala.util.Random(20260819)
    val texts = (0L until 30L).map { i =>
      val t =
        if (i % 3 == 0) (1 to 40).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
        else rnd.alphanumeric.take(8 + rnd.nextInt(30)).mkString
      (i, t)
    }
    val d = texts.toDF("doc_id", "text")
    def check(regime: String): Unit =
      SuffixRanks.roundsObserved(d).zipWithIndex.foreach {
        case ((merged, observed), k) =>
          val counted = merged.filter(col("grp") > 1).count()
          assert(observed == counted,
            s"$regime round ${k + 1}: observed $observed != counted $counted")
      }
    check("local")
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx_obs").toFile
    spark.conf.set(IterationCheckpoint.ConfKey, dir.getAbsolutePath)
    try check("durable")
    finally spark.conf.unset(IterationCheckpoint.ConfKey)
  }

  test("durable-checkpoint regime yields identical rounds") {
    // under a durable checkpoint dir every cut is a reliable checkpoint
    // (its observed counts included) — the output frames must be
    // identical either way
    import graft.operators.IterationCheckpoint
    val rnd = new scala.util.Random(20260820)
    val texts = (0L until 24L).map { i =>
      val t =
        if (i % 3 == 0) (1 to 30).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
        else rnd.alphanumeric.take(8 + rnd.nextInt(24)).mkString
      (i, t)
    }
    val d = texts.toDF("doc_id", "text")
    val local = SuffixRanks.roundsWithGroups(d).map(_.collect().toSet)
    val dir = java.nio.file.Files.createTempDirectory("graft_sfx_ckpt").toFile
    spark.conf.set(IterationCheckpoint.ConfKey, dir.getAbsolutePath)
    try {
      val durable = SuffixRanks.roundsWithGroups(d).map(_.collect().toSet)
      (local zip durable).zipWithIndex.foreach { case ((l, g), k) =>
        assert(l == g, s"round ${k + 1}: durable regime diverged")
      }
    } finally spark.conf.unset(IterationCheckpoint.ConfKey)
  }

  test("mostly-unique corpus: the active set shrinks round over round") {
    val rnd = new scala.util.Random(20260817)
    val texts = (0L until 40L)
      .map(i => (i, rnd.alphanumeric.take(20 + rnd.nextInt(40)).mkString))
    val d = texts.toDF("doc_id", "text")
    val sizes = SuffixRanks.roundsWithGroups(d)
      .map(_.filter(col("grp") > 1).count())
    // alphanumeric text: nearly everything is settled by 8–16 chars —
    // the round inputs must shrink monotonically and end near zero
    assert(sizes == sizes.sorted.reverse,
      s"active set not monotone: $sizes")
    assert(sizes.last < sizes.head / 4,
      s"active set failed to collapse on a mostly-unique corpus: $sizes")
  }

  test("equal final ranks mean identical 16-char windows, and groups cross docs") {
    val d = Seq(
      (1L, "xxhello world suffix arrays are neat"),
      (2L, "yyhello world suffix arrays are neat"),
      (3L, "zzunrelated text entirely different!")).toDF("doc_id", "text")
    val fin = SuffixRanks.rounds(d).last
    val crossDoc = fin.groupBy(col("r"))
      .agg(countDistinct(col("doc_id")).as("nd"), count(lit(1)).as("n"))
      .filter(col("nd") >= 2)
    // docs 1 and 2 share a 34-char tail: many cross-doc rank groups
    assert(crossDoc.count() >= 10)
  }
}
