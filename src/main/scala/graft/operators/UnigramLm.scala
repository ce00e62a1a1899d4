package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model), as a deterministic, cross-engine-
  * replayable EM — the OTHER production tokenizer family next to BPE
  * (q90/q91): BPE grows a vocabulary by merging, unigram SHRINKS one by
  * pruning pieces a probabilistic model can spare.
  *
  * Determinism contract (what makes a DuckDB oracle able to replay it):
  *   - Hard EM (Viterbi-EM): the E-step charges each word's FULL
  *     frequency to its single best segmentation, instead of
  *     forward-backward fractional counts. This is the standard hard-EM
  *     approximation of Kudo §3.2 — fractional expectations cannot be
  *     made bit-identical across engines, argmin paths can.
  *   - Quantized integer costs: cost(piece) = ⌊ln(total/freq)·2^20+0.5⌋
  *     — the one float op per round, floored to int64 immediately; the
  *     whole DP below runs in exact integer arithmetic. (ln on identical
  *     doubles agrees across engines here — the same dependence the q45
  *     importance-sampling oracle already carries.)
  *   - Deterministic Viterbi: dp[i] = min over pieces word[j..i) in the
  *     vocabulary of dp[j] + cost; ties prefer the SMALLEST j (longest
  *     final piece — the greedy-longest convention). (cost, j) is unique
  *     per candidate set, so the argmin path is total-ordered.
  *   - Bounded unroll: words are capped at [[MaxWordLen]] chars and
  *     pieces at [[MaxPieceLen]] — both caps are part of the operator
  *     spec, applied identically in engine and oracle (not a silent
  *     truncation), and they bound the DP at MaxWordLen relational
  *     stages, which is what lets the oracle unroll it as plain SQL.
  *
  * Scale shape (the q90 argument, shared): the only corpus-sized pass is
  * the word-frequency aggregation (vocab ≪ corpus by Heaps' law); every
  * EM round runs over the VOCABULARY — seed substring counting, DP
  * stages, backtrack, and count aggregation are all vocab-sized frames
  * with narrow (piece, Σ) shuffles; totals ride 1-row broadcast frames
  * (centroid idiom, no driver collect). Per-position DP frames are
  * lineage-cut through [[IterationCheckpoint]] like every iterative
  * operator here.
  */
object UnigramLm {

  /** Words longer than this are excluded from the trainer's vocabulary
    * (both engines, by spec). */
  val MaxWordLen = 10
  /** Maximum piece length considered (seed inventory and DP lookback). */
  val MaxPieceLen = 4
  /** Multi-character seed pieces kept (top by corpus frequency). */
  val SeedMulti = 60
  /** Pieces reported per EM round. */
  val TopK = 20
  /** Fixed-point scale for quantized costs: 2^20. */
  val Scale = 1048576L

  /** (word, wfreq) vocabulary — the one corpus-sized aggregation. */
  def words(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")).between(1, MaxWordLen))
      .groupBy(col("word")).agg(count(lit(1)).as("wfreq"))

  /** All substrings up to MaxPieceLen, frequency-weighted: the Kudo seed
    * inventory. Vocab-sized input, ≤ len·MaxPieceLen fan-out per word. */
  private def substrFreqs(w: DataFrame): DataFrame =
    w.select(col("word"), col("wfreq"),
        explode(sequence(lit(1), length(col("word")))).as("st"))
      .select(col("word"), col("wfreq"), col("st"),
        explode(sequence(lit(1), lit(MaxPieceLen))).as("pl"))
      .filter(col("st") + col("pl") - 1 <= length(col("word")))
      .select(col("word").substr(col("st"), col("pl")).as("piece"), col("wfreq"))
      .groupBy(col("piece")).agg(sum(col("wfreq")).as("pfreq"))

  /** Seed vocabulary: top-[[SeedMulti]] multi-char substrings by
    * (freq DESC, piece ASC) plus EVERY single character — the chars keep
    * all words segmentable under any later pruning. The global
    * row_number window is single-partition by construction; it ranks a
    * vocab-sized frame (≪ corpus), which is exactly where a global sort
    * is affordable. */
  def seedVocab(w: DataFrame): DataFrame = {
    val sf = substrFreqs(w)
    val multi = sf.filter(length(col("piece")) >= 2)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("pfreq").desc, col("piece"))))
      .filter(col("rk") <= SeedMulti)
      .drop("rk")
    multi.unionByName(sf.filter(length(col("piece")) === 1))
  }

  /** Quantize a (piece, pfreq) vocabulary into integer costs:
    * ⌊ln(total/freq)·Scale + 0.5⌋. The total rides a broadcast 1-row
    * frame; everything after this line is integer-exact. */
  def withCosts(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("pfreq")).as("tot"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(log(col("tot").cast("double") / col("pfreq").cast("double"))
          * Scale + lit(0.5)).cast("long").as("cost"))
  }

  /** ROW-LOCAL Viterbi + backtrack — the same DP as the relational
    * unroll (`viterbi` + `segments`, kept in `UnigramLmSpec` as its
    * reference) fused into ONE corpus-free pass: the whole per-word
    * DP depends only on the word itself and the (piece → cost)
    * vocabulary, which is vocab-sized (seed = [[SeedMulti]] multi-char
    * pieces + the character alphabet; round-2 vocab ⊆ seed), so it
    * folds to a single broadcast MAP row and the DP runs as integer
    * HOFs inside the row — the [[encodeCols]] / bpeEncodeCols shape
    * applied to TRAINING.
    *
    * Why: the relational unroll pays [[MaxWordLen]] eagerly
    * checkpointed join+window stages per DP plus [[MaxWordLen]]
    * backtrack joins, twice per EM round — ~200 driver jobs per train
    * (JobProfile: qal = 208 jobs, 5.1 s of pure between-job driver
    * time at cpus=32, occupancy 0.04). This form is ONE job. The
    * algebra is identical step by step:
    *   - dp[0] = (0, -1); dp[i] = min over j ∈ [max(0, i −
    *     [[MaxPieceLen]]), i) with word[j..i) ∈ vocab and dp[j]
    *     reachable of (dp[j].dc + cost, j), ties → smallest j
    *     (ascending j + strict < IS the (tc, j) argmin);
    *   - missing map key ≡ the relational inner join dropping the
    *     candidate; unreachable dp[j] (NULL dc) ≡ the absent stage row;
    *   - backtrack from pos = len emits (piece, st = bp + 1) until
    *     pos = 0, stopping early on an unreachable pos exactly where
    *     the relational backtrack join would drop the word.
    * `UnigramLmSpec` pins this frame-for-frame equal to
    * `segments(w, viterbi(w, costs))`; the qal/qap/qc3 oracles (which
    * replay the relational unroll in SQL) stay hash-green on top. */
  def segmentsLocal(w: DataFrame, costs: DataFrame): DataFrame = {
    val cm = costs.agg(
      map_from_entries(collect_list(struct(col("piece"), col("cost"))))
        .as("cost_map"))
    val dpExpr =
      s"""aggregate(
         |  sequence(1, length(word)),
         |  array(named_struct('dc', CAST(0 AS BIGINT), 'bp', -1)),
         |  (acc, i) -> concat(acc, array(
         |    aggregate(
         |      sequence(greatest(0, i - $MaxPieceLen), i - 1),
         |      named_struct('dc', CAST(NULL AS BIGINT), 'bp', CAST(NULL AS INT)),
         |      (b, j) -> CASE
         |        WHEN element_at(acc, j + 1).dc IS NOT NULL
         |         AND element_at(cost_map, substring(word, j + 1, i - j))
         |               IS NOT NULL
         |         AND (b.dc IS NULL OR
         |              element_at(acc, j + 1).dc
         |                + element_at(cost_map, substring(word, j + 1, i - j))
         |                < b.dc)
         |        THEN named_struct(
         |          'dc', element_at(acc, j + 1).dc
         |                  + element_at(cost_map, substring(word, j + 1, i - j)),
         |          'bp', j)
         |        ELSE b END))))""".stripMargin
    val btExpr =
      s"""aggregate(
         |  sequence(1, length(word)),
         |  named_struct('pos', length(word),
         |    'segs', CAST(array() AS ARRAY<STRUCT<piece: STRING, st: INT>>)),
         |  (s, x) -> CASE
         |    WHEN s.pos > 0 AND element_at(__dp, s.pos + 1).bp IS NOT NULL
         |    THEN named_struct(
         |      'pos', element_at(__dp, s.pos + 1).bp,
         |      'segs', concat(s.segs, array(named_struct(
         |        'piece', substring(word, element_at(__dp, s.pos + 1).bp + 1,
         |                   s.pos - element_at(__dp, s.pos + 1).bp),
         |        'st', element_at(__dp, s.pos + 1).bp + 1))))
         |    ELSE named_struct('pos', -1, 'segs', s.segs) END,
         |  s -> s.segs)""".stripMargin
    w.crossJoin(broadcast(cm))
      .withColumn("__dp", expr(dpExpr))
      .withColumn("__seg", explode(expr(btExpr)))
      .select(col("word"), col("wfreq"),
        col("__seg.piece").as("piece"), col("__seg.st").as("st"))
  }

  /** E-step counts: piece → Σ word frequency over best segmentations. */
  def emCounts(segs: DataFrame): DataFrame =
    segs.groupBy(col("piece")).agg(sum(col("wfreq")).as("cnt"))

  /** M-step: prune multi-char pieces that earned no count; single chars
    * survive with +1 smoothing (segmentability floor — Kudo keeps the
    * character alphabet unprunable for the same reason). Output is the
    * next round's (piece, pfreq) vocabulary. */
  def mStep(counts: DataFrame, w: DataFrame): DataFrame = {
    val chars = substrFreqs(w).filter(length(col("piece")) === 1)
      .select(col("piece"))
    counts.join(chars, Seq("piece"), "full_outer")
      .select(col("piece"),
        (coalesce(col("cnt"), lit(0L))
          + when(length(col("piece")) === 1, 1L).otherwise(0L)).as("pfreq"))
      .filter(col("pfreq") > 0)
  }

  /** One reported round: top-[[TopK]] pieces by (count DESC, piece ASC)
    * plus a corpus-fertility row (pieces per word, ppm — directly
    * comparable to qa7's BPE fertility_ppm). */
  def report(counts: DataFrame, segs: DataFrame, w: DataFrame,
      rnd: Int): DataFrame = {
    val top = counts
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("piece"))))
      .filter(col("rank") <= TopK)
      .select(lit(rnd).as("rnd"), col("piece"), col("cnt").cast("long").as("cnt"),
        col("rank"))
    val totPieces = segs.agg(sum(col("wfreq")).as("tp"))
    val totWords = w.agg(sum(col("wfreq")).as("tw"))
    val fert = totPieces.crossJoin(broadcast(totWords))
      .select(lit(rnd).as("rnd"), lit("_fertility_ppm").as("piece"),
        expr("(tp * 1000000) div tw").as("cnt"), lit(0).as("rank"))
    fert.unionByName(top)
  }

  /** Two unrolled EM rounds over the corpus: seed → Viterbi → counts →
    * prune/requantize → Viterbi → counts. Round 2's numbers certify
    * round 1's full M-step (pruning, smoothing, requantization), not
    * just its counting. */
  def train(docs: DataFrame): DataFrame = {
    val w = IterationCheckpoint.cut(words(docs))
    val seed = withCosts(seedVocab(w))
    val segs1 = IterationCheckpoint.cut(segmentsLocal(w, seed))
    val counts1 = emCounts(segs1)
    val vocab2 = withCosts(mStep(counts1, w))
    val segs2 = IterationCheckpoint.cut(segmentsLocal(w, vocab2))
    val counts2 = emCounts(segs2)
    report(counts1, segs1, w, 1)
      .unionByName(report(counts2, segs2, w, 2))
      .orderBy(col("rnd"), col("rank"), col("piece"))
  }

  // --------------------------------------------------------------- oracle

  /** The same algorithm as ANSI SQL for DuckDB — DP stages and backtrack
    * steps unrolled by the same [[MaxWordLen]]/[[MaxPieceLen]] bounds, so
    * a hash match certifies every stage of both EM rounds. Generated by
    * loops so engine and oracle can never drift on the unroll depth. */
  def oracleSql: String =
    s"""WITH $oracleCtes
       |SELECT rnd, piece, cnt, rank
       |FROM (SELECT * FROM rep1 UNION ALL SELECT * FROM rep2)
       |ORDER BY rnd, rank, piece""".stripMargin

  /** qap: corpus ENCODE under the trained model — every kept word's
    * piece count comes from the final round's segmentation table (train
    * once, broadcast the per-word table onto the corpus scan), summed
    * per document with the qa7-comparable fertility_ppm. Shares the
    * full training CTE chain, so the encode oracle re-certifies the
    * training it consumes. */
  def encodeOracleSql: String = encodeOracleSqlFor("TRUE", "TRUE")

  /** [[encodeOracleSql]] PARAMETERIZED by a training slice and an encode
    * slice — qc3's streaming twin trains on the historical corpus
    * (`trainPred`) and encodes only the CDC-arriving documents
    * (`encodePred`); at defaults this is qap's whole-corpus oracle. Both
    * share the full training CTE chain, so either consumer re-certifies
    * the training it serves from. */
  def encodeOracleSqlFor(trainPred: String, encodePred: String): String =
    s"""WITH ${oracleCtes(trainPred)},
       |wp AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS np FROM seg2 GROUP BY word),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |       FROM documents WHERE $encodePred),
       |enc AS (SELECT d.doc_id, COUNT(*) AS n_words, SUM(wp.np) AS n_pieces
       |        FROM dw d JOIN wp ON wp.word = d.word
       |        WHERE length(d.word) BETWEEN 1 AND $MaxWordLen
       |        GROUP BY d.doc_id)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_pieces AS BIGINT) AS n_pieces,
       |  CAST(n_pieces * 1000000 // n_words AS BIGINT) AS fertility_ppm
       |FROM enc ORDER BY doc_id""".stripMargin

  private def oracleCtes: String = oracleCtes("TRUE")

  private def oracleCtes(trainPred: String): String = {
    val S = Scale
    def dpStages(r: Int, costCte: String): String = {
      val d0 =
        s"""d${r}_0 AS MATERIALIZED (SELECT word, wfreq, 0 AS pos,
           |  CAST(0 AS BIGINT) AS dcost, -1 AS bp FROM w)""".stripMargin
      d0 + ",\n" + (1 to MaxWordLen).map { i =>
        val from = math.max(0, i - MaxPieceLen)
        val prev = (from until i).map(j => s"SELECT * FROM d${r}_$j")
          .mkString(" UNION ALL ")
        s"""d${r}_$i AS MATERIALIZED (
           |  SELECT word, wfreq, $i AS pos, tc AS dcost, j AS bp FROM (
           |    SELECT p.word, p.wfreq, p.pos AS j, p.dcost + c.cost AS tc,
           |      row_number() OVER (PARTITION BY p.word
           |        ORDER BY p.dcost + c.cost, p.pos) AS rn
           |    FROM ($prev) p
           |    JOIN $costCte c
           |      ON c.piece = substr(p.word, p.pos + 1, $i - p.pos)
           |    WHERE length(p.word) >= $i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
    }
    def btSteps(r: Int): String = {
      val dpAll = (0 to MaxWordLen).map(j => s"SELECT * FROM d${r}_$j")
        .mkString(" UNION ALL ")
      val steps = (1 to MaxWordLen).map { k =>
        val src = if (k == 1) s"bt${r}_0" else s"bt${r}_${k - 1}"
        s"""bt${r}_$k AS MATERIALIZED (
           |  SELECT b.word, b.wfreq,
           |    substr(b.word, d.bp + 1, b.pos - d.bp) AS piece,
           |    d.bp AS pos
           |  FROM $src b JOIN dp$r d ON d.word = b.word AND d.pos = b.pos
           |  WHERE b.pos > 0)""".stripMargin
      }.mkString(",\n")
      val segs = (1 to MaxWordLen)
        .map(k => s"SELECT word, wfreq, piece FROM bt${r}_$k")
        .mkString(" UNION ALL ")
      s"""dp$r AS MATERIALIZED ($dpAll),
         |bt${r}_0 AS MATERIALIZED (SELECT word, wfreq, length(word) AS pos,
         |  '' AS piece FROM w),
         |$steps,
         |seg$r AS MATERIALIZED ($segs),
         |cnt$r AS MATERIALIZED (SELECT piece, SUM(wfreq) AS cnt FROM seg$r GROUP BY piece),
         |rep$r AS MATERIALIZED (
         |  SELECT $r AS rnd, piece, CAST(cnt AS BIGINT) AS cnt, rank FROM (
         |    SELECT piece, cnt, CAST(row_number() OVER
         |      (ORDER BY cnt DESC, piece) AS INT) AS rank FROM cnt$r)
         |  WHERE rank <= $TopK
         |  UNION ALL
         |  SELECT $r AS rnd, '_fertility_ppm' AS piece,
         |    CAST((SELECT SUM(wfreq) FROM seg$r) * 1000000
         |      // (SELECT SUM(wfreq) FROM w) AS BIGINT) AS cnt,
         |    0 AS rank)""".stripMargin
    }
    s"""w AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS wfreq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |    WHERE $trainPred)
       |  WHERE length(word) BETWEEN 1 AND $MaxWordLen GROUP BY word),
       |sf AS MATERIALIZED (
       |  SELECT substr(word, st, pl) AS piece, SUM(wfreq) AS pfreq FROM (
       |    SELECT word, wfreq,
       |      unnest(generate_series(1, length(word))) AS st FROM w) ws
       |  CROSS JOIN (SELECT unnest(generate_series(1, $MaxPieceLen)) AS pl) pp
       |  WHERE st + pl - 1 <= length(word)
       |  GROUP BY 1),
       |seed AS MATERIALIZED (
       |  SELECT piece, pfreq FROM (
       |    SELECT piece, pfreq, row_number() OVER
       |      (ORDER BY pfreq DESC, piece) AS rk
       |    FROM sf WHERE length(piece) >= 2) WHERE rk <= $SeedMulti
       |  UNION ALL
       |  SELECT piece, pfreq FROM sf WHERE length(piece) = 1),
       |c1 AS MATERIALIZED (
       |  SELECT piece, CAST(floor(ln(
       |      CAST((SELECT SUM(pfreq) FROM seed) AS DOUBLE)
       |        / CAST(pfreq AS DOUBLE)) * $S + 0.5) AS BIGINT) AS cost
       |  FROM seed),
       |${dpStages(1, "c1")},
       |${btSteps(1)},
       |v2 AS MATERIALIZED (
       |  SELECT COALESCE(cnt1.piece, ch.cp) AS piece,
       |    COALESCE(cnt, 0)
       |      + CASE WHEN length(COALESCE(cnt1.piece, ch.cp)) = 1
       |             THEN 1 ELSE 0 END AS pfreq
       |  FROM cnt1
       |  FULL OUTER JOIN (SELECT DISTINCT piece AS cp FROM sf
       |    WHERE length(piece) = 1) ch ON cnt1.piece = ch.cp
       |  WHERE COALESCE(cnt, 0)
       |    + CASE WHEN length(COALESCE(cnt1.piece, ch.cp)) = 1
       |           THEN 1 ELSE 0 END > 0),
       |c2 AS MATERIALIZED (
       |  SELECT piece, CAST(floor(ln(
       |      CAST((SELECT SUM(pfreq) FROM v2) AS DOUBLE)
       |        / CAST(pfreq AS DOUBLE)) * $S + 0.5) AS BIGINT) AS cost
       |  FROM v2),
       |${dpStages(2, "c2")},
       |${btSteps(2)}""".stripMargin
  }

  /** qap engine side: train (two EM rounds, exactly [[train]]'s chain),
    * then one corpus pass joining each kept word to its final-round
    * piece count (vocab-sized broadcast), aggregated per document. */
  def encodeCorpus(docs: DataFrame): DataFrame = {
    val w = IterationCheckpoint.cut(words(docs))
    val seed = withCosts(seedVocab(w))
    val counts1 = IterationCheckpoint.cut(
      emCounts(segmentsLocal(w, seed)))
    val vocab2 = withCosts(mStep(counts1, w))
    val wp = segmentsLocal(w, vocab2)
      .groupBy(col("word")).agg(count(lit(1)).as("np"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")).between(1, MaxWordLen))
      .join(broadcast(wp), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        expr("(n_pieces * 1000000) div n_words").as("fertility_ppm"))
      .orderBy(col("doc_id"))
  }

  /** qc3: the trained model folded to ONE broadcastable row — the final
    * round's per-word piece counts as a word → np MAP (the q8p
    * dsir-model shape). The map is vocab-sized (Heaps'-law bounded, with
    * the [[MaxWordLen]] cap), which is the train-once / serve-forever
    * contract: the row broadcasts once per executor and every arriving
    * document encodes ROW-LOCALLY against it. */
  def npMapFrame(docs: DataFrame): DataFrame = {
    val w = IterationCheckpoint.cut(words(docs))
    val seed = withCosts(seedVocab(w))
    val counts1 = IterationCheckpoint.cut(
      emCounts(segmentsLocal(w, seed)))
    val vocab2 = withCosts(mStep(counts1, w))
    segmentsLocal(w, vocab2)
      .groupBy(col("word")).agg(count(lit(1)).as("np"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("np"))))
        .as("np_map"))
  }

  /** The ROW-LOCAL encode against a frame carrying (doc_id, text,
    * np_map): words not in the trained vocabulary drop out (exactly
    * [[encodeCorpus]]'s inner join — map keys already satisfy the
    * length cap), per-doc accounting is two HOFs over the kept words
    * (no explode, no per-token shuffle — the streaming-plan shape qc3
    * needs: stateless append, zero state rows). Documents with no
    * trained word vanish, the inner-join rule. */
  def encodeCols(df: DataFrame): DataFrame =
    df.withColumn("__ws", filter(split(col("text"), " "),
        w => map_contains_key(col("np_map"), w)))
      .filter(size(col("__ws")) > 0)
      .select(col("doc_id"),
        size(col("__ws")).cast("long").as("n_words"),
        aggregate(col("__ws"), lit(0L),
          (a, w) => a + element_at(col("np_map"), w)).as("n_pieces"))
      .withColumn("fertility_ppm", expr("(n_pieces * 1000000) div n_words"))
}
