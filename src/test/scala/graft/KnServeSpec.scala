package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.TextAnalysis

/** The broadcast-hash-join KN scorer ([[TextAnalysis.knScoreBatch]] over
  * [[TextAnalysis.knModelTables]]) pinned frame-identical to the 1-row-map
  * scorer it replaced ([[knScoreCols]] over [[knModelFrame]], kept here
  * as the reference) — the q8v serve restructure. The claim
  * being checked is the arithmetic-identity argument in knScoreBatch's
  * scaladoc: table values are built by the same expressions the maps
  * store, the per-bigram probability is the same expression tree over
  * them, and the per-doc fold is a sum of DECIMAL(30,12) addends (exact,
  * so regrouping the HOF fold into a SUM aggregate cannot move any
  * double). Random word soups make every model case occur: seen bigram,
  * unseen bigram with seen w1 (backoff), unseen w1 with seen w2
  * (continuation only), and fully-unseen (eps floor).
  */
class KnServeSpec extends SparkSpec {

  private val vocab =
    Vector("aa", "bb", "cc", "dd", "ee", "ff", "zz", "qq", "xx")

  private def doc(rnd: scala.util.Random): String =
    Seq.fill(2 + rnd.nextInt(14))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(col("doc_id")).collect().map(_.toString).toSeq

  /** q8v: the trained KN model folded to ONE broadcastable row — a
    * seen-bigram probability map, the w1 backoff-weight map, the
    * continuation map, and the two perplexity-tercile cutoffs frozen
    * from the TRAINING slice's own scores (the CCNet serve shape:
    * model and cutoffs retrain on a slow cadence, the stream
    * classifies row-locally against the frozen row). Map values are
    * the EXACT doubles the batch path computes — seen-bigram P stores
    * the full interpolated expression, lmap stores 0.75·N1+(w1·)/c1,
    * cmap stores N1+(·w2)/types — so map-composed serve arithmetic
    * reproduces qb1's per-occurrence doubles bit-for-bit. */
  private def knModelFrame(dTrain: DataFrame): DataFrame = {
    val toks = dTrain
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val trb = toks.select(explode(expr(
      "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
      .as("g"))
    val bc = trb.groupBy(col("g")).agg(count(lit(1)).as("c12"))
    val w1s = bc.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val w2s = bc.groupBy(substring_index(col("g"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("nctx"))
    val nt = bc.agg(count(lit(1)).as("ntypes"))
    val pmap = bc
      .join(w1s, substring_index(col("g"), " ", 1) === col("w1"))
      .join(w2s, substring_index(col("g"), " ", -1) === col("w2"))
      .crossJoin(broadcast(nt))
      .withColumn("p", greatest(
        greatest(coalesce(col("c12"), lit(0L)) - lit(0.75), lit(0.0))
          / col("c1")
          + (lit(0.75) * col("n1fw") / col("c1"))
            * (coalesce(col("nctx"), lit(0L)) * lit(1.0) / col("ntypes")),
        lit(9.5367431640625e-7)))
      .agg(map_from_entries(collect_list(struct(col("g"), col("p"))))
        .as("pmap"))
    val lmap = w1s
      .withColumn("lw", lit(0.75) * col("n1fw") / col("c1"))
      .agg(map_from_entries(collect_list(struct(col("w1"), col("lw"))))
        .as("lmap"))
    val cmap = w2s.crossJoin(broadcast(nt))
      .withColumn("cw", col("nctx") * lit(1.0) / col("ntypes"))
      .agg(map_from_entries(collect_list(struct(col("w2"), col("cw"))))
        .as("cmap"))
    // tercile cutoffs from the training slice's own scores: the score
    // at global rank (n+2) div 3 and (2n+2) div 3 (StableIds rank —
    // the same boundary ranks qb1's (rn-1)*3 div n bucketing yields)
    val trScored = TextAnalysis.knScoreDocs(toks, bc, w1s, w2s, nt)
    val nF = trScored.agg(count(lit(1)).as("n"))
    val ranked = graft.operators.StableIds.assign(trScored,
      Seq(col("avg_neg_logp"), col("doc_id")), 8, "rn")
      .crossJoin(broadcast(nF))
    val b1 = ranked.filter(col("rn") === expr("(n + 2) div 3"))
      .select(col("avg_neg_logp").as("b1"))
    val b2 = ranked.filter(col("rn") === expr("(2 * n + 2) div 3"))
      .select(col("avg_neg_logp").as("b2"))
    pmap.crossJoin(lmap).crossJoin(cmap)
      .crossJoin(broadcast(b1)).crossJoin(broadcast(b2))
  }

  /** Row-local KN scoring + cutoff classification of a frame carrying
    * (doc_id, text) AND the [[knModelFrame]] columns — one aggregate
    * HOF over the doc's bigrams, zero shuffle, which is what lets the
    * same columns serve inside a stateless streaming micro-batch plan
    * (q8v). */
  private def knScoreCols(withModel: DataFrame): DataFrame =
    withModel
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .withColumn("gs", expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
      .withColumn("wsum", expr(
        """aggregate(gs, CAST(0 AS DECIMAL(30,12)), (acc, g) ->
             CAST(acc + CAST(round(-ln(greatest(
               coalesce(element_at(pmap, g),
                 IF(element_at(lmap, substring_index(g, ' ', 1)) IS NOT NULL,
                    element_at(lmap, substring_index(g, ' ', 1))
                      * coalesce(element_at(cmap, substring_index(g, ' ', -1)),
                          CAST(0.0 AS DOUBLE)),
                    coalesce(element_at(cmap, substring_index(g, ' ', -1)),
                      CAST(0.0 AS DOUBLE)))),
               9.5367431640625e-7D)), 9) AS DECIMAL(30,12))
             AS DECIMAL(30,12)))"""))
      .withColumn("avg_neg_logp",
        round(col("wsum").cast("double") / size(col("gs")), 6))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_bigrams"),
        col("avg_neg_logp"),
        when(col("avg_neg_logp") <= col("b1"), "head")
          .when(col("avg_neg_logp") <= col("b2"), "middle")
          .otherwise("tail").as("bucket"))

  test("knScoreBatch over knModelTables equals knScoreCols over knModelFrame") {
    import spark.implicits._
    val rnd = new scala.util.Random(7719235)
    for (trial <- 0 until 3) {
      val train = (0L until 40L).map(i => (i, doc(rnd))).toDF("doc_id", "text")
      // the serve slice draws from a WIDER vocabulary than the training
      // slice ever saw ("qq xx" pairs etc.), plus a single-token doc the
      // size >= 2 filter must drop in both scorers
      val serve = ((100L until 130L).map(i => (i, doc(rnd))) :+
        (131L, "aa")).toDF("doc_id", "text")
      val (pT, lT, cT, cuts) = TextAnalysis.knModelTables(train)
      val got = rows(TextAnalysis.knScoreBatch(serve, pT, lT, cT, cuts))
      val model = knModelFrame(train).withColumn("k", lit(1))
      val want = rows(knScoreCols(
        serve.withColumn("k", lit(1)).join(broadcast(model), Seq("k"))))
      assert(got.nonEmpty, s"trial $trial: empty serve result")
      assert(got == want,
        s"trial $trial: scorers diverge\n got=$got\nwant=$want")
    }
  }
}
