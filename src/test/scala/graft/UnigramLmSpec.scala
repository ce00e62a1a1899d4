package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{IterationCheckpoint, UnigramLm}
import graft.operators.UnigramLm.{MaxPieceLen, MaxWordLen}

/** Unit semantics of the unigram-LM trainer's pieces (the oracle gate
  * covers the full two-round EM; these pin the DP's local contracts on
  * hand-built frames where the right answer is checkable by eye). */
class UnigramLmSpec extends SparkSpec {
  import spark.implicits._

  private def costsDF(rows: (String, Long)*) =
    rows.toDF("piece", "cost")
  private def wordsDF(rows: (String, Long)*) =
    rows.toDF("word", "wfreq")

  // The relational Viterbi unroll and its backtrack: the reference the
  // trainer's row-local UnigramLm.segmentsLocal is pinned against.

  /** Viterbi DP over every vocabulary word: returns the full backpointer
    * table (word, wfreq, pos, dcost, bp) for pos 0..len(word). Stage i
    * joins the ≤[[MaxPieceLen]] predecessor frames against the piece
    * cost table (narrow, vocab-sized) and argmins per word with the
    * (cost, j) tiebreak. Each stage frame is lineage-cut. */
  private def viterbi(w: DataFrame, costs: DataFrame): DataFrame = {
    val frames = scala.collection.mutable.ArrayBuffer[DataFrame]()
    frames += IterationCheckpoint.cut(
      w.select(col("word"), col("wfreq"), lit(0).as("pos"),
        lit(0L).as("dcost"), lit(-1).as("bp")))
    for (i <- 1 to MaxWordLen) {
      val prev = frames.slice(math.max(0, i - MaxPieceLen), i)
        .reduce(_ unionByName _)
      val cand = prev
        .filter(length(col("word")) >= i)
        .select(col("word"), col("wfreq"), col("pos").as("j"), col("dcost"),
          col("word").substr(col("pos") + 1, lit(i) - col("pos")).as("piece"))
        .join(costs, Seq("piece"))
        .select(col("word"), col("wfreq"), col("j"),
          (col("dcost") + col("cost")).as("tc"))
      val byWord = Window.partitionBy(col("word")).orderBy(col("tc"), col("j"))
      frames += IterationCheckpoint.cut(
        cand.withColumn("rn", row_number().over(byWord))
          .filter(col("rn") === 1)
          .select(col("word"), col("wfreq"), lit(i).as("pos"),
            col("tc").as("dcost"), col("j").as("bp")))
    }
    frames.reduce(_ unionByName _)
  }

  /** Backtrack the DP: (word, wfreq, piece, st) with one row per piece
    * of each word's best segmentation (st = 1-based start offset, so a
    * consumer can reassemble the order). MaxWordLen bounded steps, each
    * a vocab-sized join on (word, pos). */
  private def segments(w: DataFrame, dp: DataFrame): DataFrame = {
    val bp = IterationCheckpoint.cut(
      dp.select(col("word"), col("pos"), col("bp")))
    var cur = w.select(col("word"), col("wfreq"), length(col("word")).as("pos"))
    val pieces = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (_ <- 1 to MaxWordLen) {
      // each step IS cut: the final union consumes every step's piece
      // rows, so an uncut chain would re-execute step k's join once per
      // later step (O(n²) joins total); materializing each step keeps
      // the backtrack at exactly MaxWordLen joins
      val step = IterationCheckpoint.cut(
        cur.filter(col("pos") > 0)
          .join(bp, Seq("word", "pos"))
          .select(col("word"), col("wfreq"),
            col("word").substr(col("bp") + 1, col("pos") - col("bp")).as("piece"),
            col("bp").as("pos")))
      pieces += step.select(col("word"), col("wfreq"), col("piece"),
        (col("pos") + 1).as("st"))
      cur = step.select(col("word"), col("wfreq"), col("pos"))
    }
    pieces.reduce(_ unionByName _)
  }

  test("viterbi picks the cheapest segmentation and backtrack reconstructs the word") {
    val w = wordsDF("banana" -> 3L)
    // "ban"(10) + "ana"(10) = 20 beats any char path (6x9=54) and
    // "banana"(25)
    val c = costsDF("b" -> 9L, "a" -> 9L, "n" -> 9L,
      "ban" -> 10L, "ana" -> 10L, "nana" -> 30L)
    val segs = segments(w, viterbi(w, c))
      .select("piece").as[String].collect().toSeq
    assert(segs.sorted == Seq("ana", "ban"))
  }

  test("equal-cost tie prefers the longest final piece (smallest backpointer)") {
    val w = wordsDF("ab" -> 1L)
    // a+b = 200 ties ab = 200: the tiebreak must choose j=0, i.e. the
    // single piece "ab"
    val c = costsDF("a" -> 100L, "b" -> 100L, "ab" -> 200L)
    val segs = segments(w, viterbi(w, c))
      .select("piece").as[String].collect().toSeq
    assert(segs == Seq("ab"))
  }

  test("segmentation always reconstructs every word exactly, in order") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "concatenation of pieces reconstructs"),
      (3L, "zz zz yyy xxxx")).toDF("doc_id", "text")
    val w = UnigramLm.words(docs)
    val vocab = UnigramLm.withCosts(UnigramLm.seedVocab(w))
    val dp = viterbi(w, vocab)
    // backtrack pieces, re-concatenated right-to-left per word, must
    // equal the word — for EVERY word (single chars guarantee a path)
    val rebuilt = segments(w, dp)
      .groupBy("word")
      // order by each piece's start offset — collect_list order after a
      // shuffle is not deterministic, the st column is
      .agg(expr("array_join(transform(sort_array(" +
        "collect_list(struct(st, piece))), x -> x.piece), '')").as("re"))
    assert(rebuilt.filter(col("word") =!= col("re")).isEmpty,
      rebuilt.filter(col("word") =!= col("re")).collect().mkString(","))
    val nWords = w.count()
    assert(rebuilt.count() == nWords)
  }

  test("segmentsLocal equals the relational viterbi+segments frame-for-frame") {
    // the fused row-local DP (one broadcast cost map + HOFs) must land on
    // exactly the relational unroll's segmentation — including argmin
    // ties (smallest j), missing-piece candidates (inner-join drop) and
    // multi-word corpora through the real seed/m-step vocabularies
    val docs = Seq(
      (1L, "banana bandana cabana"),
      (2L, "the cat sat on the mat and the banana"),
      (3L, "abab abab baba concatenation"),
      (4L, "zz zz yyy xxxx qqqqqqqqqq")).toDF("doc_id", "text")
    val w = UnigramLm.words(docs)
    val round1 = UnigramLm.withCosts(UnigramLm.seedVocab(w))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("word", "wfreq", "piece", "st").count()
        .orderBy("word", "st").collect().toSeq
    assert(canon(UnigramLm.segmentsLocal(w, round1)) ==
      canon(segments(w, viterbi(w, round1))))
    // round 2: through the pruned/requantized vocabulary too
    val counts1 = UnigramLm.emCounts(UnigramLm.segmentsLocal(w, round1))
    val round2 = UnigramLm.withCosts(UnigramLm.mStep(counts1, w))
    assert(canon(UnigramLm.segmentsLocal(w, round2)) ==
      canon(segments(w, viterbi(w, round2))))
    // the hand-built tie fixture (smallest backpointer wins)
    val wt = wordsDF("ab" -> 1L)
    val ct = costsDF("a" -> 100L, "b" -> 100L, "ab" -> 200L)
    assert(UnigramLm.segmentsLocal(wt, ct)
      .select("piece").as[String].collect().toSeq == Seq("ab"))
  }

  test("m-step prunes unused multi-char pieces but never a character") {
    val docs = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val w = UnigramLm.words(docs)
    val vocab = UnigramLm.withCosts(UnigramLm.seedVocab(w))
    val counts = UnigramLm.emCounts(segments(w, viterbi(w, vocab)))
    val v2 = UnigramLm.mStep(counts, w)
    val pieces = v2.select("piece").as[String].collect().toSet
    assert(pieces.contains("a") && pieces.contains("b"),
      "characters must survive pruning (segmentability floor)")
    assert(v2.filter(length(col("piece")) === 1).count() == 2)
  }
}
