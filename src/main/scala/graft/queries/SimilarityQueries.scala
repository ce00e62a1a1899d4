package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorAggregates, VectorFunctions}
import graft.operators.IterationCheckpoint
import graft.sources.Tables

/** Similarity search over `embeddings.embedding: array<float>` (SURVEY.md
  * §2.12, Tier C).
  *
  * q65 is the exact baseline: brute-force cosine top-k. The query side is
  * tiny and broadcast, so the scan side never shuffles — at 100 TB this is
  * one pass over the corpus with a per-partition top-k (Spark's window +
  * filter compiles to exactly that under partial aggregation pushdown
  * [`WindowGroupLimit`]).
  *
  * q66 is the scale path: IVF (inverted-file) ANN. Centroids are a
  * deterministic subset of the corpus (the first ceil(√N) ids — at real
  * scale these come from k-means, but centroid provenance is orthogonal
  * to the operator; see [[centroids]] for why k scales with N);
  * every vector is assigned to its nearest centroid in one broadcast pass,
  * queries probe their nprobe=2 nearest cells, and only those cells are
  * reranked exactly. Both stages are broadcast joins — the big side never
  * shuffles, and the rerank touches |cells probed| / |cells| of the corpus.
  * The whole pipeline is algebraic, so the DuckDB oracle replays it
  * exactly — including any recall loss vs q65, which is deliberate and
  * measurable (IVF is approximate by design).
  */
object SimilarityQueries {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Adaptive IVF cell count k = ceil(√N): cell count grows with the
    * corpus so per-cell population stays ~√N and cell-blocked pairing
    * (q6c) stays sub-quadratic — a fixed k would fatten every cell
    * linearly and trend the pair join quadratic at scale. N is computed
    * INSIDE the plan (broadcast one-row aggregate — no driver-side
    * count, the q54 lesson) and the oracle replays the same k via a
    * scalar subquery; ceil∘sqrt of an exact integer count is
    * bit-identical on both engines. Centroid PROVENANCE stays the
    * deterministic id prefix — at real scale the ids come from k-means
    * (q58 is the refinement step), which is orthogonal to the operator
    * shape. */
  private[queries] val centSql =
    """cent AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
         WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM embeddings))"""

  private[graft] def centroids(e: DataFrame): DataFrame =
    e.crossJoin(broadcast(
        e.agg(ceil(sqrt(count(lit(1)))).cast("long").as("k"))))
      .filter(col("vec_id") < col("k"))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** Materialization root for q5i's persisted index, derived from the
    * scale-factor directory (the q63 rule: concurrent runs against
    * different sfDirs write and read disjoint files; Verify dumps
    * `SparkEntry.oracleSqlFor(sfDir)` so query and oracle always agree). */
  private[queries] def q5iIndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "q5i_ivf")

  /** q5l: the same build/serve split as q5i, but the index is built from
    * k-means-REFINED centroids ([[kmeansIterations]]) instead of the
    * id-prefix seeds. */
  private[queries] def q5lIndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "q5l_ivf_refined")

  /** Fixed-round Lloyd refinement (the full k-means index build q58 is
    * one step of): assign → recompute, `iters` times, seeded by
    * [[centroids]]. Returns (refined centroids (cid, ce), last
    * assignment (vec_id, cid, embedding)).
    *
    * Cross-engine determinism at every round (the q58 ULP discipline,
    * iterated): the argmax is quantized (round 9) per round, and each
    * recomputed centroid is quantized round(mean,10) THEN cast to float
    * before it feeds the next round — mean accumulation order differs
    * between engines (and across Spark partitionings) by ~1e-13, so the
    * round-10 step lands both engines on bit-identical doubles, and the
    * float cast (IEEE round-to-nearest, deterministic) hands the next
    * round bit-identical inputs. Without the quantization, round-N's
    * ULP noise compounds into round-N+1's argmax and a boundary vector
    * flips cells on one engine only.
    *
    * Scale shape per round: one broadcast of √N centroids + one
    * map-side-combining hash aggregate (one shuffled row per vector) +
    * one √N-row centroid aggregate; `localCheckpoint` cuts lineage per
    * round (the ConnectedComponents driver-loop pattern) so round T's
    * plan doesn't replay rounds 1..T-1. */
  private[graft] def kmeansIterations(e: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    var cent = centroids(e)
    var assign: DataFrame = null
    for (_ <- 1 to iters) {
      assign = e.crossJoin(broadcast(cent))
        .withColumn("cc",
          round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
        .groupBy(col("vec_id"))
        .agg(
          max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"),
          first(col("embedding")).as("embedding")) // constant per vec_id
      cent = assign.groupBy(col("cid"))
        .agg(VectorAggregates.vector_mean(col("embedding")).as("m"))
        .select(col("cid"),
          transform(col("m"), x => round(x, 10).cast("float")).as("ce"))
        .transform(IterationCheckpoint.cut)
    }
    (cent, assign)
  }

  /** q5m: the q5i index plus an INCREMENTAL update batch — the delta is
    * assigned against the persisted centroids (no rebuild) and appended
    * to the memberships. */
  private[queries] def q5mIndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "q5m_ivf_update")

  private[queries] def q6wIndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "q6w_ivf_tomb")

  /** qan: the persisted CORPUS-side index the decontamination screen
    * serves through (benchmark vectors are queries, never indexed). */
  private[queries] def qanIndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qan_ivf_decontam")

  /** qaq: the persisted NN-Descent graph the greedy serve walks. */
  private[queries] def qaqGraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qaq_knn_graph")

  /** qat: the persisted NN-Descent graph the beam serve walks (its own
    * copy — queries must not order-depend on each other's staging). */
  private[queries] def qatGraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qat_knn_graph")

  /** qax: the two persisted layers of the hierarchical graph index. */
  private[queries] def qaxLayerPath(sfDir: String, layer: Int): String =
    QueryDef.materializePath(sfDir, s"qax_l${layer}_graph")

  /** qb3: the persisted BASE graph the incremental insert maintains. */
  private[queries] def qb3GraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qb3_base_graph")

  /** qb4: the persisted graph the delete-repair maintains. */
  private[queries] def qb4GraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qb4_full_graph")

  /** qb5: the persisted generation chain the compaction folds —
    * gen 0 = base build, gen 1 = insert merge, gen 2 = delete repair. */
  private[queries] def qb5GenPath(sfDir: String, gen: Int): String =
    QueryDef.materializePath(sfDir, s"qb5_gen$gen")

  /** qb6: the IVF generation chain (base cent+assign, delta assign
    * against the STALE centroids, tombstone set) its compaction folds. */
  private[queries] def qb6GenPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qb6_ivf_chain")

  /** qc1: the persisted PQ index (codebook + codes) the tombstone serve
    * reads — built over the FULL corpus before any delete arrives. */
  private[queries] def qc1IndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qc1_pq_tomb")

  /** qc6: the persisted IVF index (centroids + base memberships) the
    * STREAMING update maintains — q5m's layout, stream edition. */
  private[queries] def qc6IndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qc6_ivf_stream_update")

  /** q5m's oracle, path-parameterized and SHARED VERBATIM with its
    * streaming twin qc6 (the qb9/qc0 discipline): reads the persisted
    * centroids + base memberships, RECOMPUTES the delta assignment from
    * the raw table (a wrong update-path assignment cannot hide behind
    * persistence), unions, and replays the q66 serve — so the drained
    * per-micro-batch update must be indistinguishable from the one-shot
    * batch update. */
  private[queries] def ivfUpdateOracleSql(indexPath: String): String =
    ivfUpdateOracleSqlFor(indexPath, "TRUE", "TRUE")

  /** [[ivfUpdateOracleSql]] PARAMETERIZED (the pqAdcOracleSqlFor
    * pattern, IVF edition): `candPred` filters the unioned membership
    * frame (qc9's streamed tombstones re-expressed as the oracle's
    * WHERE on `vec_id`) and `qPred` filters the query set (a deleted
    * user gets no serve — the q6w rule). At TRUE/TRUE defaults this IS
    * q5m's oracle, so q5m, qc6 and qc9 share one spec text modulo the
    * staged predicates. */
  private[queries] def ivfUpdateOracleSqlFor(indexPath: String,
      candPred: String, qPred: String): String =
    s"""WITH ic AS (
          SELECT * FROM read_parquet('$indexPath/cent/*.parquet')),
        base AS (
          SELECT * FROM read_parquet('$indexPath/assign_base/*.parquet')),
        d0 AS (SELECT e.vec_id, ic.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], ic.ce::DOUBLE[]), 9) DESC,
                ic.cid) AS rn
          FROM embeddings e, ic WHERE e.vec_id % 10 = 0),
        ia AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid FROM base
                 UNION ALL SELECT vec_id, cid FROM d0 WHERE rn = 1)
               WHERE $candPred),
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < 10 AND $qPred),
        probe0 AS (SELECT q.qid, q.qe, ic.cid,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY round(list_cosine_similarity(q.qe::DOUBLE[], ic.ce::DOUBLE[]), 9) DESC,
                ic.cid) AS rn
          FROM q, ic),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid
          FROM probe p JOIN ia a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT c.qid, c.nid,
            round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c0,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
                c.nid) AS rnk
          FROM cand c JOIN embeddings e ON e.vec_id = c.nid)
        SELECT qid, nid, CAST(round(c0, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""

  /** qc2: the PQ generation chain (base codebook+codes, delta codes
    * encoded against the STALE persisted codebook, tombstone set). */
  private[queries] def qc2GenPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qc2_pq_chain")

  /** qc9: the persisted IVF index (centroids + base memberships) whose
    * STREAMING maintenance folds both CDC verbs — qc6's layout, with
    * delete commits in the drain. */
  private[queries] def qc9IndexPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qc9_ivf_stream_delete")

  /** The qc9/qd0 streamed tombstone rule: the delete sweep hits base
    * ids AND the first insert commit's delta ids (retraction of both
    * offline-persisted and stream-appended index rows), never the
    * second commit's (%20==10 inserts land after the sweep — no revival
    * ambiguity; the suffix family's generation-stamped revival is qc5's
    * subject). */
  private[graft] def streamDeadCol(c: org.apache.spark.sql.Column) =
    pmod(c, lit(9)) === 3 && pmod(c, lit(20)) =!= 10
  /** The same rule as the oracles' LIVE predicate on a named column. */
  private[graft] def streamLivePred(c: String): String =
    s"($c % 9 <> 3 OR $c % 20 = 10)"

  /** The q66 assignment rule as a helper: nearest centroid per vector,
    * argmax as a map-side-combining hash aggregate (one shuffled row per
    * vector), round-9 quantized scores, tie-break (cc DESC, cid ASC). */
  private[graft] def assignTo(v: DataFrame, cent: DataFrame): DataFrame =
    v.crossJoin(broadcast(cent))
      .withColumn("cc",
        round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"))

  /** Serve stage shared by every persisted-index query (q5i/q5l/q5m):
    * probe the `nprobe` cells nearest each query (centroids broadcast),
    * fetch candidates from the membership index by equi join, exact-rerank
    * only those cells' vectors (fetched by id join), top-`topK`.
    *
    * `nprobe` is the recall-vs-cost dial every IVF deployment tunes:
    * candidates (and serve cost) grow ~linearly with it while recall
    * saturates — ScaleProbe's `annsweep` mode measures the operating
    * curve (the oracle queries pin nprobe=2, the default). */
  private[graft] def ivfServe(e: DataFrame, ic: DataFrame, ia: DataFrame,
      nprobe: Int = 2, topK: Int = 3): DataFrame =
    ivfServeFor(
      e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")),
      e, ic, ia, nprobe, topK)

  /** [[ivfServe]] for an EXPLICIT query frame `q` = (qid, qe) — the entry
    * the streaming serve path (q8g) feeds one CDC micro-batch of queries
    * at a time; the persisted index and the corpus are untouched between
    * batches. */
  private[graft] def ivfServeFor(q: DataFrame, e: DataFrame,
      ic: DataFrame, ia: DataFrame,
      nprobe: Int = 2, topK: Int = 3): DataFrame = {
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("qc").desc, col("cid"))
    val probe = q
      .crossJoin(broadcast(ic))
      .withColumn("qc",
        round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("cid"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("c").desc, col("nid"))
    ia.join(broadcast(probe), Seq("cid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qe"), col("vec_id").as("nid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
        Seq("nid"))
      .withColumn("c",
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9))
      .withColumn("rnk", row_number().over(wRank))
      .filter(col("rnk") <= topK)
      .select(col("qid"), col("nid"), round(col("c"), 4).as("cos"), col("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** q5n's exact side as a helper for the annsweep probe: brute-force
    * top-`k` per query (vec_id < 10), the recall denominator. */
  private[graft] def exactTopK(e: DataFrame, k: Int): DataFrame =
    exactTopKFor(e, k, e.filter(col("vec_id") < 10))

  /** exactTopK with an explicit query-id frame (qb4's touched probes). */
  private[graft] def exactTopKOf(e: DataFrame, k: Int, qids: DataFrame): DataFrame =
    exactTopKFor(e, k, e.join(qids.select(col("vec_id")), Seq("vec_id"), "left_semi"))

  /** Brute-force top-`k` (qid, nid) of each query row of `queries` (a
    * (vec_id, embedding) frame) over the candidates `e`, self excluded. */
  private def exactTopKFor(e: DataFrame, k: Int, queries: DataFrame): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id"))
    e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("c",
        round(VectorFunctions.cosine_sim(col("qe"), col("embedding")), 9))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id").as("nid"))
  }

  /** One assignTo exposure for the probe (build the membership index). */
  private[graft] def buildIndex(e: DataFrame): (DataFrame, DataFrame) = {
    val cent = centroids(e)
    (cent, assignTo(e, cent))
  }

  /** The 3-round unrolled oracle algebra for [[kmeansIterations]]:
    * assign (round-9 quantized argmax) → per-dim mean (round-10) →
    * float-cast list, three times. `list(x ORDER BY dim)` reassembles the
    * per-dim means into the next round's centroid vectors. */
  private def kmeansRoundSql(prev: String, i: Int): String =
    s"""a${i}_0 AS (SELECT e.vec_id, e.embedding, c.cid,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC,
              c.cid) AS rn
        FROM embeddings e, $prev c),
      a$i AS (SELECT vec_id, embedding, cid FROM a${i}_0 WHERE rn = 1),
      c${i}l AS (SELECT a.cid, g.i AS dim,
          round(avg(a.embedding[g.i]), 10) + 0 AS m, count(*) AS n_members
        FROM a$i a, generate_series(1, 64) AS g(i) GROUP BY a.cid, g.i),
      c$i AS (SELECT cid, list(m::FLOAT ORDER BY dim) AS ce FROM c${i}l GROUP BY cid)"""

  def all(sfDir: String): Seq[QueryDef] = Seq(

    // Exact brute-force cosine top-5 for query vectors vec_id < 10.
    QueryDef(
      "q65_knn_bruteforce",
      Some("""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        s AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
                round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c
              FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
        r AS (SELECT qid, nid, c,
                row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
              FROM s)
        SELECT qid, nid, CAST(round(c, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("embedding")), 9))
        val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id"))
        scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("nid"),
            round(col("c"), 4).as("cos"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // IVF ANN: assign corpus to nearest of ceil(sqrt(N)) centroid cells,
    // probe the 2 cells nearest each query, exact-rerank those cells,
    // top-3.
    QueryDef(
      "q66_ann_ivf",
      Some(s"""WITH $centSql,
        assign0 AS (SELECT e.vec_id, e.embedding, c.cid,
                round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) + 0 AS cc,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings e, cent c),
        assign AS (SELECT vec_id, embedding, cid FROM assign0 WHERE rn = 1),
        probe0 AS (SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings q, cent c WHERE q.vec_id < 10),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid, a.embedding AS ne
              FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT qid, nid,
                round(list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]), 9) + 0 AS c,
                row_number() OVER (PARTITION BY qid
                  ORDER BY round(list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]), 9) DESC, nid) AS rnk
              FROM cand)
        SELECT qid, nid, CAST(round(c, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        // one broadcast pass: nearest centroid per corpus vector. Argmax
        // as a hash aggregate (map-side partial combine: the shuffle
        // carries one row per vector, not k) — tie-break (cc DESC, cid
        // ASC) identical to the oracle's row_number ordering. Every
        // ranking score is quantized (round 9) before comparison — the
        // q58 cross-engine ULP rule: codegen'd cosine and DuckDB's
        // list_cosine_similarity can differ in the last ULP, which would
        // flip a near-tie argmax and change the probed cells.
        val assign = e.crossJoin(broadcast(cent))
          .withColumn("cc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(
            max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"),
            first(col("embedding")).as("embedding")) // constant per vec_id
          .select(col("vec_id"), col("embedding"), col("cid"))
        // queries probe their 2 nearest cells
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("qc").desc, col("cid"))
        val probe = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(broadcast(cent))
          .withColumn("qc",
            round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("qe"), col("cid"))
        // rerank only the probed cells, exact cosine, top-3
        val wRank = Window.partitionBy(col("qid"))
          .orderBy(col("c").desc, col("nid"))
        assign.select(col("cid"), col("vec_id").as("nid"), col("embedding").as("ne"))
          .join(broadcast(probe), Seq("cid"))
          .filter(col("nid") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9))
          .withColumn("rnk", row_number().over(wRank))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nid"), round(col("c"), 4).as("cos"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // Hierarchical (two-level) IVF: same operator shape as q66 but the
    // corpus-assignment stage routes through ceil(√k) COARSE groups —
    // each vector compares against the kc ≈ N^0.25 coarse centroids,
    // then only against the ~√k fine centroids of its winning group:
    // O(N·√k) assignment compute instead of flat IVF's O(N·k) = O(N^1.5).
    // At 10⁹ vectors that is ~350 comparisons per vector instead of
    // ~31 600 — the scale path the round-3 verdict asked for. Both
    // levels are broadcast hash aggregates (max_by): the corpus never
    // shuffles more than one row per vector, and no window touches the
    // N·kc cross product. Assignment may differ from flat argmin near
    // group boundaries (standard IVF-HNSW-style approximation); the
    // oracle replays the SAME two-level algebra, so the check is exact.
    // Scores are quantized (round 9) before every argmax — the q58
    // cross-engine ULP lesson.
    QueryDef(
      "q5c_ann_ivf_hier",
      Some(s"""WITH $centSql,
        coarse AS (SELECT cid AS gid, ce AS ge FROM cent
              WHERE cid < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM cent)),
        f2c0 AS (SELECT c.cid, c.ce, g.gid,
                row_number() OVER (PARTITION BY c.cid
                  ORDER BY round(list_cosine_similarity(c.ce::DOUBLE[], g.ge::DOUBLE[]), 9) DESC, g.gid) AS rn
              FROM cent c, coarse g),
        f2c AS (SELECT cid, ce, gid FROM f2c0 WHERE rn = 1),
        vg0 AS (SELECT e.vec_id, e.embedding, g.gid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], g.ge::DOUBLE[]), 9) DESC, g.gid) AS rn
              FROM embeddings e, coarse g),
        vg AS (SELECT vec_id, embedding, gid FROM vg0 WHERE rn = 1),
        a0 AS (SELECT v.vec_id, v.embedding, f.cid,
                row_number() OVER (PARTITION BY v.vec_id
                  ORDER BY round(list_cosine_similarity(v.embedding::DOUBLE[], f.ce::DOUBLE[]), 9) DESC, f.cid) AS rn
              FROM vg v JOIN f2c f ON f.gid = v.gid),
        assign AS (SELECT vec_id, embedding, cid FROM a0 WHERE rn = 1),
        probe0 AS (SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings q, cent c WHERE q.vec_id < 10),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid, a.embedding AS ne
              FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT qid, nid,
                list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]) AS c,
                row_number() OVER (PARTITION BY qid
                  ORDER BY round(list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]), 9) DESC, nid) AS rnk
              FROM cand)
        SELECT qid, nid, CAST(round(c, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        // coarse level: first ceil(√k) of the fine centroids (in-plan)
        val coarse = cent.crossJoin(broadcast(
            cent.agg(ceil(sqrt(count(lit(1)))).cast("long").as("kc"))))
          .filter(col("cid") < col("kc"))
          .select(col("cid").as("gid"), col("ce").as("ge"))
        // fine → coarse routing table: k rows, broadcast-sized. Every
        // coarse gid routes to itself (cos = 1 is the max), so no group
        // is empty and every vector always finds ≥1 fine candidate.
        val f2c = cent.crossJoin(broadcast(coarse))
          .withColumn("gc",
            round(VectorFunctions.cosine_sim(col("ce"), col("ge")), 9))
          .groupBy(col("cid"))
          .agg(max_by(col("gid"), struct(col("gc"), (-col("gid")).as("ng"))).as("gid"),
            first(col("ce")).as("ce"))
        // vector → coarse group: hash-agg argmax, one row per vector out
        val vg = e.crossJoin(broadcast(coarse))
          .withColumn("gc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ge")), 9))
          .groupBy(col("vec_id"))
          .agg(max_by(col("gid"), struct(col("gc"), (-col("gid")).as("ng"))).as("gid"),
            first(col("embedding")).as("embedding"))
        // vector → fine cell within the group: ~√k candidates per vector
        // through a broadcast equi-join on gid, argmax again
        val assign = vg.join(broadcast(f2c.select(col("gid"), col("cid"), col("ce"))), "gid")
          .withColumn("cc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"),
            first(col("embedding")).as("embedding"))
        // probing + rerank identical to q66 (queries are few: window is fine)
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("qc").desc, col("cid"))
        val probe = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(broadcast(cent))
          .withColumn("qc",
            round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("qe"), col("cid"))
        val wRank = Window.partitionBy(col("qid"))
          .orderBy(col("cq").desc, col("nid"))
        assign.select(col("cid"), col("vec_id").as("nid"), col("embedding").as("ne"))
          .join(broadcast(probe), Seq("cid"))
          .filter(col("nid") =!= col("qid"))
          .withColumn("c", VectorFunctions.cosine_sim(col("qe"), col("ne")))
          .withColumn("cq", round(col("c"), 9))
          .withColumn("rnk", row_number().over(wRank))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nid"), round(col("c"), 4).as("cos"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // Per-label centroids via the typed Aggregator UDAF (SURVEY.md §2.11):
    // partial aggregation means the shuffle carries one (sums, count)
    // buffer per group per partition — the distributed k-means step that
    // produces real IVF centroids at scale. Long format (label, dim, mean)
    // so the oracle compare stays flat.
    QueryDef(
      "q56_vector_centroids",
      Some("""SELECT label, i AS dim,
          CAST(round(avg(embedding[i]), 4) + 0 AS DOUBLE) + 0 AS mean_val
        FROM embeddings, generate_series(1, 64) AS g(i)
        GROUP BY label, i ORDER BY label, dim"""),
      (s, dir) =>
        emb(s, dir)
          .groupBy(col("label"))
          .agg(VectorAggregates.vector_mean(col("embedding")).as("c"))
          .select(col("label"), posexplode(col("c")).as(Seq("pos", "m")))
          .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
            (round(col("m"), 4) + lit(0.0)).as("mean_val"))
          .orderBy(col("label"), col("dim")))
,
    // One Lloyd (k-means) iteration: assign every vector to its nearest
    // seed centroid, then recompute centroids as the elementwise mean of
    // each cell — vector_mean's real job. This is the centroid-refinement
    // step a production IVF index runs a handful of times at build time;
    // one broadcast pass + one partial-aggregated shuffle per iteration.
    QueryDef(
      "q58_kmeans_step",
      // The assignment score is quantized (round 9) before ranking on BOTH
      // engines: Spark's codegen'd cosine and DuckDB's
      // list_cosine_similarity differ in the last ULPs (different op
      // order), and an argmax over raw doubles can flip a boundary vector
      // into another cell — which poisons every mean that cell contributes
      // to. 1e-9 is far below any real cluster-separation margin and far
      // above double accumulation noise (~1e-15), so the quantized argmax
      // is identical on both engines.
      Some(s"""WITH $centSql,
        a0 AS (SELECT e.vec_id, e.embedding, c.cid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings e, cent c),
        a AS (SELECT vec_id, embedding, cid FROM a0 WHERE rn = 1)
        SELECT cid, i AS dim,
          CAST(round(avg(embedding[i]), 4) + 0 AS DOUBLE) + 0 AS c_mean,
          count(*) AS n_members
        FROM a, generate_series(1, 64) AS g(i)
        GROUP BY cid, i ORDER BY cid, dim"""),
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        // argmax as a hash aggregate (max_by over (score, -cid)), not a
        // row_number window: partial aggregation collapses the k
        // candidate rows per vector map-side, so the shuffle carries one
        // row per vector instead of k — the difference between O(N) and
        // O(N·k) exchange volume at scale. Tie-break identical to the
        // oracle's (round(cc,9) DESC, cid ASC).
        val assign = e.crossJoin(broadcast(cent))
          .withColumn("cc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(
            max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"),
            first(col("embedding")).as("embedding")) // constant per vec_id
        assign.groupBy(col("cid"))
          .agg(VectorAggregates.vector_mean(col("embedding")).as("c"),
            count(lit(1)).as("n_members"))
          .select(col("cid"), posexplode(col("c")).as(Seq("pos", "m")), col("n_members"))
          // `+ 0` normalizes IEEE negative zero: a tiny negative mean
          // rounds to -0.0 in DuckDB but 0.0 in Spark, and the driver's
          // value hash distinguishes them. -0.0 + 0.0 == +0.0 exactly.
          .select(col("cid"), (col("pos") + 1).cast("long").as("dim"),
            (round(col("m"), 4) + lit(0.0)).as("c_mean"), col("n_members"))
          .orderBy(col("cid"), col("dim"))
      }),

    // Symmetric int8 quantization of embeddings (the storage/compute
    // format for large-scale ANN): per-vector scale = 127/max|x|, quantize
    // with round, measure the round-trip error. Row-local column algebra —
    // scan-bandwidth-bound at 100 TB; the oracle replays the arithmetic.
    QueryDef(
      "q57_vector_quantize",
      Some("""WITH s AS (
          SELECT vec_id, embedding::DOUBLE[] AS e,
            127.0 / list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
          FROM embeddings)
        SELECT vec_id,
          CAST(round(scale, 4) + 0 AS DOUBLE) AS scale_r,
          CAST(round(list_max(list_transform(e,
            x -> abs(x - round(x * scale) / scale))), 6) + 0 AS DOUBLE) AS max_err
        FROM s ORDER BY vec_id"""),
      (s, dir) => {
        val withScale = emb(s, dir).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("e"))
          .withColumn("scale",
            lit(127.0) / array_max(transform(col("e"), x => abs(x))))
        withScale.select(
          col("vec_id"),
          round(col("scale"), 4).as("scale_r"),
          round(array_max(transform(col("e"),
            x => abs(x - round(x * col("scale")) / col("scale")))), 6).as("max_err"))
          .orderBy(col("vec_id"))
      }),

    // ANN index persistence — the build/serve split every production
    // vector store runs: the IVF index (centroids + cell memberships, IDS
    // ONLY — corpus vectors stay in the corpus table) is built once,
    // PERSISTED, and queries are answered from the persisted index
    // without touching the build pipeline. Serve-side scale shape: the
    // centroid table (√N rows) broadcasts; candidate cells come from the
    // membership index by equi join; the rerank fetches only the probed
    // cells' vectors by id join — the corpus is never scanned beyond
    // those fetches, and every join is an equi join. The oracle reads the
    // SAME persisted artifacts (q63's materialized-oracle rule) and
    // replays probe + rerank, so it also proves the persistence
    // round-trip is lossless. Results are identical to q66 by
    // construction (same cells, same rerank).
    QueryDef(
      "q5i_ann_index_persist",
      Some(s"""WITH ic AS (
          SELECT * FROM read_parquet('${q5iIndexPath(sfDir)}/cent/*.parquet')),
        ia AS (
          SELECT * FROM read_parquet('${q5iIndexPath(sfDir)}/assign/*.parquet')),
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < 10),
        probe0 AS (SELECT q.qid, q.qe, ic.cid,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY round(list_cosine_similarity(q.qe::DOUBLE[], ic.ce::DOUBLE[]), 9) DESC,
                ic.cid) AS rn
          FROM q, ic),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid
          FROM probe p JOIN ia a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT c.qid, c.nid,
            round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c0,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
                c.nid) AS rnk
          FROM cand c JOIN embeddings e ON e.vec_id = c.nid)
        SELECT qid, nid, CAST(round(c0, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = emb(s, dir)
        val p = q5iIndexPath(dir)
        // BUILD: persist centroids + memberships ([[assignTo]], the q66
        // assignment rule)
        val cent = centroids(e)
        assignTo(e, cent).write.mode("overwrite").parquet(s"$p/assign")
        cent.write.mode("overwrite").parquet(s"$p/cent")
        // SERVE: from the persisted index only
        ivfServe(e, s.read.parquet(s"$p/cent"), s.read.parquet(s"$p/assign"))
      }),

    // Full k-means index build: three Lloyd rounds (q58 iterated), the
    // driver-loop + localCheckpoint pattern. Output = final centroids in
    // long format + member counts, exactly the shape q58 emits for one
    // round; the oracle unrolls all three rounds with the identical
    // quantization at every stage, so any cross-round drift (a boundary
    // vector flipping cells on one engine) breaks the hash compare.
    QueryDef(
      "q5k_kmeans_build",
      Some(s"""WITH $centSql,
        ${kmeansRoundSql("cent", 1)},
        ${kmeansRoundSql("c1", 2)},
        ${kmeansRoundSql("c2", 3)}
        SELECT cid, dim,
          CAST(round(m, 4) + 0 AS DOUBLE) + 0 AS c_mean,
          n_members
        FROM c3l ORDER BY cid, dim"""),
      (s, dir) => {
        val (_, lastAssign) = kmeansIterations(emb(s, dir), 3)
        lastAssign.groupBy(col("cid"))
          .agg(VectorAggregates.vector_mean(col("embedding")).as("m"),
            count(lit(1)).as("n_members"))
          .select(col("cid"),
            posexplode(transform(col("m"), x => round(round(x, 10), 4))).as(Seq("pos", "cm")),
            col("n_members"))
          // `+ 0` normalizes IEEE negative zero (the q56/q58 rule)
          .select(col("cid"), (col("pos") + 1).cast("long").as("dim"),
            (col("cm") + lit(0.0)).as("c_mean"), col("n_members"))
          .orderBy(col("cid"), col("dim"))
      }),

    // q5i with a REFINED index: the persisted IVF index is built from the
    // 3-round k-means centroids instead of the id-prefix seeds — the
    // production build path (q5k) feeding the production serve path
    // (q5i). The oracle reads the SAME persisted artifacts and replays
    // probe + rerank, proving the refined index round-trips losslessly;
    // serve-side plan is identical to q5i (broadcast centroids, equi-join
    // memberships, rerank fetches probed cells only).
    QueryDef(
      "q5l_ann_index_refined",
      Some(s"""WITH ic AS (
          SELECT * FROM read_parquet('${q5lIndexPath(sfDir)}/cent/*.parquet')),
        ia AS (
          SELECT * FROM read_parquet('${q5lIndexPath(sfDir)}/assign/*.parquet')),
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < 10),
        probe0 AS (SELECT q.qid, q.qe, ic.cid,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY round(list_cosine_similarity(q.qe::DOUBLE[], ic.ce::DOUBLE[]), 9) DESC,
                ic.cid) AS rn
          FROM q, ic),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid
          FROM probe p JOIN ia a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT c.qid, c.nid,
            round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c0,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
                c.nid) AS rnk
          FROM cand c JOIN embeddings e ON e.vec_id = c.nid)
        SELECT qid, nid, CAST(round(c0, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = emb(s, dir)
        val p = q5lIndexPath(dir)
        // BUILD: refined centroids, then one final assignment against them
        // (the q66/q5i argmax rule), both persisted
        val (cent, _) = kmeansIterations(e, 3)
        assignTo(e, cent).write.mode("overwrite").parquet(s"$p/assign")
        cent.write.mode("overwrite").parquet(s"$p/cent")
        // SERVE: from the persisted index only (identical to q5i)
        ivfServe(e, s.read.parquet(s"$p/cent"), s.read.parquet(s"$p/assign"))
      }),

    // Incremental index maintenance — the operation a production vector
    // store runs continuously: new vectors arrive, get assigned against
    // the EXISTING persisted centroids (no rebuild, cost O(|delta|·k)),
    // and their memberships append to the index. Build side: 90% of the
    // corpus (vec_id % 10 != 0) is the standing index; the other 10% is
    // the update batch, assigned by reading the persisted centroids
    // back. The oracle reads the persisted centroids + base memberships,
    // RECOMPUTES the delta assignment from the raw table (so a wrong
    // update-path assignment cannot hide behind persistence), unions,
    // and replays the serve — results must equal a serve over the
    // combined memberships.
    QueryDef(
      "q5m_ann_index_update",
      Some(ivfUpdateOracleSql(q5mIndexPath(sfDir))),
      (s, dir) => {
        val e = emb(s, dir)
        val p = q5mIndexPath(dir)
        val existing = e.filter(pmod(col("vec_id"), lit(10)) =!= 0)
        val delta = e.filter(pmod(col("vec_id"), lit(10)) === 0)
        // BUILD: persist the centroids FIRST (adaptive k from the FULL
        // corpus size, so the cell geometry matches what a steady-state
        // index would hold), then assign the standing 90% against the
        // PERSISTED centroids read back. Parquet round-trips float
        // arrays losslessly, so this is bit-identical to assigning
        // against the in-plan frame — and it is the real build order
        // (memberships always derive from the centroids the index
        // actually stores). It also halves the centroid recomputation:
        // the round-8 bimodality root cause (a listener probe) was 22 Spark
        // jobs per execution, 4 of them replaying the adaptive-k
        // count-agg + centroid filter once per downstream action.
        centroids(e).write.mode("overwrite").parquet(s"$p/cent")
        val ic = s.read.parquet(s"$p/cent")
        assignTo(existing, ic).write.mode("overwrite")
          .parquet(s"$p/assign_base")
        // UPDATE: assign ONLY the delta batch, against the same
        // persisted centroids — the incremental cost is O(|delta|·k),
        // the standing memberships are never touched
        assignTo(delta, ic).write.mode("overwrite")
          .parquet(s"$p/assign_delta")
        // SERVE from the combined memberships
        val ia = s.read.parquet(s"$p/assign_base")
          .unionByName(s.read.parquet(s"$p/assign_delta"))
        ivfServe(e, ic, ia)
      }),

    // ANN recall evaluation — the measurement operator every approximate
    // index needs beside it: recall@3 of the IVF serve (q66's algebra)
    // against the exact brute-force top-3 (q65's), per query, as ONE
    // query. Integer output (hits + ppm floor-division) so the compare
    // is exact. Scale shape: the exact side is the one full corpus pass
    // (that is what "measure recall" costs); the IVF side is the usual
    // broadcast pipeline; the overlap join is 10×3 rows.
    QueryDef(
      "q5n_ann_recall",
      Some(s"""WITH $centSql,
        assign0 AS (SELECT e.vec_id, e.embedding, c.cid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings e, cent c),
        assign AS (SELECT vec_id, embedding, cid FROM assign0 WHERE rn = 1),
        probe0 AS (SELECT q.vec_id AS qid, q.embedding AS qe, c.cid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings q, cent c WHERE q.vec_id < 10),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid, a.embedding AS ne
              FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT qid, nid,
                row_number() OVER (PARTITION BY qid
                  ORDER BY round(list_cosine_similarity(qe::DOUBLE[], ne::DOUBLE[]), 9) DESC, nid) AS rnk
              FROM cand),
        ivf AS (SELECT qid, nid FROM rr WHERE rnk <= 3),
        ex0 AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
                row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
              FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
              WHERE q.vec_id < 10),
        ex AS (SELECT qid, nid FROM ex0 WHERE rnk <= 3)
        SELECT ex.qid AS qid,
          CAST(count(ivf.nid) AS BIGINT) AS n_hits,
          CAST(count(ivf.nid) * 1000000 // 3 AS BIGINT) AS recall_ppm
        FROM ex LEFT JOIN ivf ON ivf.qid = ex.qid AND ivf.nid = ex.nid
        GROUP BY ex.qid ORDER BY ex.qid"""),
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        // IVF top-3 (exactly q66's stages)
        val assign = e.crossJoin(broadcast(cent))
          .withColumn("cc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(
            max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"),
            first(col("embedding")).as("embedding"))
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("qc").desc, col("cid"))
        val probe = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(broadcast(cent))
          .withColumn("qc",
            round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("qe"), col("cid"))
        val wRank = Window.partitionBy(col("qid"))
          .orderBy(col("c").desc, col("nid"))
        val ivf = assign
          .select(col("cid"), col("vec_id").as("nid"), col("embedding").as("ne"))
          .join(broadcast(probe), Seq("cid"))
          .filter(col("nid") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9))
          .withColumn("rnk", row_number().over(wRank))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nid"))
        // exact top-3 (q65's stages at k=3)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val wEx = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id"))
        val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("embedding")), 9))
          .withColumn("rnk", row_number().over(wEx))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("vec_id").as("nid"))
        exact.as("x")
          .join(ivf.as("i"),
            col("x.qid") === col("i.qid") && col("x.nid") === col("i.nid"),
            "left")
          .groupBy(col("x.qid").as("qid"))
          .agg(count(col("i.nid")).as("n_hits"))
          .select(col("qid"), col("n_hits"),
            expr("CAST(n_hits * 1000000 div 3 AS BIGINT)").as("recall_ppm"))
          .orderBy(col("qid"))
      }),

    // Product quantization + asymmetric-distance search (PQ/ADC — the
    // memory-compression half of a production IVF-PQ index: a 64-dim
    // float vector becomes EIGHT 4-bit codes, 256 bytes → 8, and queries
    // score candidates from per-subspace dot-product LOOKUP TABLES
    // without touching raw vectors). Subspaces j=0..7 over dims
    // [8j+1, 8j+8]; the 16-code codebook per subspace takes the id-prefix
    // seed rule (the centSql provenance — k-means refinement q5k is
    // orthogonal); encode = argmin squared-L2 to the codebook; ADC score
    // of (q, v) = Σⱼ dot(qⱼ, codebook[j][codeⱼ(v)]), top-5 per query.
    //
    // Cross-engine determinism: squared-L2 and dot are EXPLICIT 8-term
    // left-associated chains (no list_sum/aggregate whose reduction
    // order is an engine choice), rounded at 9; the 8-subspace ADC sum
    // crosses a GROUP BY, so it rides the decimal(30,12) idiom (exact on
    // round-9 inputs — reduction-order-proof); final score rounded at 4
    // and the ranking orders by the ROUNDED score.
    //
    // Scale shape: the codebook is 128 rows (broadcast); encoding is one
    // corpus pass (explode ×8, broadcast join, map-side-combining argmin
    // — one shuffled row per (vector, subspace)); the query side joins
    // codes against a 10×128-row broadcast lookup table and aggregates
    // (qid, nid) partial sums map-side. Raw vectors never shuffle.
    QueryDef(
      "q5s_pq_adc",
      Some(pqAdcOracleSql),
      (s, dir) => {
        val e = emb(s, dir)
        val sub = pqSub(e)
        val cb = pqCodebook(sub)
        val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
        pqCodes(sub, cb)
          .join(broadcast(pqDotq(sub, cb)), Seq("j", "code"))
          .filter(col("vec_id") =!= col("qid"))
          .groupBy(col("qid"), col("vec_id").as("nid"))
          .agg(pqAdcSum.as("adc"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("nid"), col("adc"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // IVF-PQ — the PRODUCTION composition of the two halves (q66's cell
    // probe × q5s's code scoring): queries probe their nprobe=2 nearest
    // cells, and the probed cells' candidates are scored from the PQ
    // lookup tables — raw candidate vectors are never touched at serve
    // time, which is the whole point of PQ (the serve path reads 8 bytes
    // per candidate, not 256). Top-3 per query by ADC score. Scale
    // shape: centroids + probe + the 10×128 lookup table broadcast; the
    // candidate→codes join is an equi join on vector id (in a stored
    // index the codes live cell-partitioned next to the memberships, the
    // q5i layout, making the fetch partition-local); ADC partial sums
    // combine map-side. The oracle replays probe, encode and
    // lookup-table sum exactly — approximation included, the q66 rule.
    QueryDef(
      "q5t_ivfpq",
      {
        def l2 (s: String, c: String) = (1 to 8)
          .map(i => s"($s[$i]-$c[$i])*($s[$i]-$c[$i])").mkString(" + ")
        def dot(s: String, c: String) = (1 to 8)
          .map(i => s"$s[$i]*$c[$i]").mkString(" + ")
        Some(s"""WITH $centSql,
          assign0 AS (SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
                FROM embeddings e, cent c),
          assign AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
          probe0 AS (SELECT q.vec_id AS qid, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
                FROM embeddings q, cent c WHERE q.vec_id < 10),
          probe AS (SELECT qid, cid FROM probe0 WHERE rn <= 2),
          js AS (SELECT unnest(generate_series(0, 7)) AS j),
          sub AS (SELECT vec_id, j,
                    list_transform(embedding[j*8+1 : j*8+8], x -> x::DOUBLE) AS svec
                  FROM embeddings, js),
          cb AS (SELECT j, vec_id AS code, svec AS cvec
                 FROM sub WHERE vec_id < 16),
          d2 AS (SELECT s.vec_id, s.j, cb.code,
                   round(${l2("s.svec", "cb.cvec")}, 9) + 0 AS d2
                 FROM sub s JOIN cb ON cb.j = s.j),
          codes AS (SELECT vec_id, j, code FROM (
                   SELECT vec_id, j, code,
                     row_number() OVER (PARTITION BY vec_id, j
                       ORDER BY d2, code) AS rn FROM d2) WHERE rn = 1),
          dotq AS (SELECT q.vec_id AS qid, cb.j, cb.code,
                     round(${dot("q.svec", "cb.cvec")}, 9) + 0 AS dq
                   FROM sub q JOIN cb ON cb.j = q.j WHERE q.vec_id < 10),
          cand AS (SELECT p.qid, a.vec_id AS nid
                   FROM probe p JOIN assign a
                     ON a.cid = p.cid AND a.vec_id <> p.qid),
          adc AS (SELECT cd.qid, cd.nid,
                    round(CAST(SUM(CAST(d.dq AS DECIMAL(30,12))) AS DOUBLE), 4) + 0 AS adc
                  FROM cand cd
                  JOIN codes c ON c.vec_id = cd.nid
                  JOIN dotq d ON d.qid = cd.qid AND d.j = c.j AND d.code = c.code
                  GROUP BY 1, 2),
          r AS (SELECT qid, nid, adc,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY adc DESC, nid) AS rnk FROM adc)
          SELECT qid, nid, CAST(adc AS DOUBLE) AS adc, CAST(rnk AS INT) AS rnk
          FROM r WHERE rnk <= 3 ORDER BY qid, rnk""")
      },
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        val assign = assignTo(e, cent) // (vec_id, cid)
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("qc").desc, col("cid"))
        val probe = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(broadcast(cent))
          .withColumn("qc",
            round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("cid"))
        val sub = pqSub(e)
        val cb = pqCodebook(sub)
        val cand = assign.join(broadcast(probe), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"))
        val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
        cand
          .join(pqCodes(sub, cb), cand("nid") === col("vec_id"))
          .join(broadcast(pqDotq(sub, cb)), Seq("qid", "j", "code"))
          .groupBy(col("qid"), col("nid"))
          .agg(pqAdcSum.as("adc"))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nid"), col("adc"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // IVF-PQ with exact reranking — the full production two-stage serve
    // that the ScaleProbe `pq` mode showed is NECESSARY: 4-bit ADC
    // scores are tie-limited on clustered data (identical code tuples
    // tie exactly), so production serves prerank a WIDE candidate set
    // from the 8-byte codes (top-10 here — memory-bandwidth stage,
    // never touches raw vectors) and then fetch raw vectors for ONLY
    // those few to rerank exactly (top-3 by true cosine). The rerank
    // fetch is an equi join on vector id against the corpus — at scale
    // 10 rows per query against a cell-partitioned store, i.e. the
    // cheap stage reads 8 bytes/candidate and the exact stage reads 10
    // vectors/query instead of |cell|. Oracle replays probe → encode →
    // ADC prerank → exact rerank, approximation included.
    QueryDef(
      "q6t_ivfpq_rerank",
      {
        def l2 (s: String, c: String) = (1 to 8)
          .map(i => s"($s[$i]-$c[$i])*($s[$i]-$c[$i])").mkString(" + ")
        def dot(s: String, c: String) = (1 to 8)
          .map(i => s"$s[$i]*$c[$i]").mkString(" + ")
        Some(s"""WITH $centSql,
          assign0 AS (SELECT e.vec_id, c.cid,
                  row_number() OVER (PARTITION BY e.vec_id
                    ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
                FROM embeddings e, cent c),
          assign AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
          probe0 AS (SELECT q.vec_id AS qid, c.cid,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
                FROM embeddings q, cent c WHERE q.vec_id < 10),
          probe AS (SELECT qid, cid FROM probe0 WHERE rn <= 2),
          js AS (SELECT unnest(generate_series(0, 7)) AS j),
          sub AS (SELECT vec_id, j,
                    list_transform(embedding[j*8+1 : j*8+8], x -> x::DOUBLE) AS svec
                  FROM embeddings, js),
          cb AS (SELECT j, vec_id AS code, svec AS cvec
                 FROM sub WHERE vec_id < 16),
          d2 AS (SELECT s.vec_id, s.j, cb.code,
                   round(${l2("s.svec", "cb.cvec")}, 9) + 0 AS d2
                 FROM sub s JOIN cb ON cb.j = s.j),
          codes AS (SELECT vec_id, j, code FROM (
                   SELECT vec_id, j, code,
                     row_number() OVER (PARTITION BY vec_id, j
                       ORDER BY d2, code) AS rn FROM d2) WHERE rn = 1),
          dotq AS (SELECT q.vec_id AS qid, cb.j, cb.code,
                     round(${dot("q.svec", "cb.cvec")}, 9) + 0 AS dq
                   FROM sub q JOIN cb ON cb.j = q.j WHERE q.vec_id < 10),
          cand AS (SELECT p.qid, a.vec_id AS nid
                   FROM probe p JOIN assign a
                     ON a.cid = p.cid AND a.vec_id <> p.qid),
          adc AS (SELECT cd.qid, cd.nid,
                    round(CAST(SUM(CAST(d.dq AS DECIMAL(30,12))) AS DOUBLE), 4) + 0 AS adc
                  FROM cand cd
                  JOIN codes c ON c.vec_id = cd.nid
                  JOIN dotq d ON d.qid = cd.qid AND d.j = c.j AND d.code = c.code
                  GROUP BY 1, 2),
          pre AS (SELECT qid, nid FROM (
                  SELECT qid, nid, row_number() OVER (PARTITION BY qid
                    ORDER BY adc DESC, nid) AS rnk FROM adc) WHERE rnk <= 10),
          rr AS (SELECT p.qid, p.nid,
                   round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 9) + 0 AS c
                 FROM pre p
                 JOIN embeddings q ON q.vec_id = p.qid
                 JOIN embeddings n ON n.vec_id = p.nid),
          r AS (SELECT qid, nid, c,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY c DESC, nid) AS rnk FROM rr)
          SELECT qid, nid, CAST(round(c, 4) + 0 AS DOUBLE) + 0 AS cos, CAST(rnk AS INT) AS rnk
          FROM r WHERE rnk <= 3 ORDER BY qid, rnk""")
      },
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        val assign = assignTo(e, cent)
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("qc").desc, col("cid"))
        val probe = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
          .crossJoin(broadcast(cent))
          .withColumn("qc",
            round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("cid"))
        val sub = pqSub(e)
        val cb = pqCodebook(sub)
        val cand = assign.join(broadcast(probe), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nid"))
        val wAdc = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
        val pre = cand
          .join(pqCodes(sub, cb), cand("nid") === col("vec_id"))
          .join(broadcast(pqDotq(sub, cb)), Seq("qid", "j", "code"))
          .groupBy(col("qid"), col("nid"))
          .agg(pqAdcSum.as("adc"))
          .withColumn("rnk", row_number().over(wAdc))
          .filter(col("rnk") <= 10)
          .select(col("qid"), col("nid"))
        val eq = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val en = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
        val wRr = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
        pre
          .join(broadcast(eq), Seq("qid"))
          .join(en, Seq("nid"))
          .withColumn("c", round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9))
          .withColumn("rnk", row_number().over(wRr))
          .filter(col("rnk") <= 3)
          .select(col("qid"), col("nid"),
            (round(col("c"), 4) + lit(0.0)).as("cos"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // ANN serve under DELETES — the compliance composition the index
    // family (q5i/q5m/q5t) was missing: right-to-be-forgotten arrives as
    // graft-doc TOMBSTONES (q79's flow) against a corpus whose IVF index
    // is NOT rebuilt; the serve drops deleted ids from the persisted
    // memberships at query time via an anti join against the tombstone
    // set extracted from the store's own change log (`_op = 'delete'`,
    // latest version per key — NOT the delete predicate re-derived from
    // the raw table, so a connector that failed to tombstone would
    // surface here as a correctness mismatch). A deleted vector can
    // therefore never appear in any top-k, effective at the NEXT query
    // after the tombstone commit, index rebuild deferred to compaction.
    // Scale shape: tombstone set ≪ corpus (broadcast-size anti join on
    // narrow ids against memberships); everything downstream is the
    // standard q5i serve (broadcast centroids/probe, equi-join
    // memberships, rerank fetches probed cells only). Oracle replays
    // the persisted index artifacts with the delete predicate applied
    // to memberships AND queries — q79's oracle convention.
    QueryDef(
      "q6w_ann_serve_tombstones",
      Some(s"""WITH ic AS (
          SELECT * FROM read_parquet('${q6wIndexPath(sfDir)}/cent/*.parquet')),
        ia0 AS (
          SELECT * FROM read_parquet('${q6wIndexPath(sfDir)}/assign/*.parquet')),
        ia AS (SELECT * FROM ia0 WHERE vec_id % 9 <> 3),
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < 10 AND vec_id % 9 <> 3),
        probe0 AS (SELECT q.qid, q.qe, ic.cid,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY round(list_cosine_similarity(q.qe::DOUBLE[], ic.ce::DOUBLE[]), 9) DESC,
                ic.cid) AS rn
          FROM q, ic),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid
          FROM probe p JOIN ia a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT c.qid, c.nid,
            round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c0,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
                c.nid) AS rnk
          FROM cand c JOIN embeddings e ON e.vec_id = c.nid)
        SELECT qid, nid, CAST(round(c0, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        import graft.connector.{GraftDoc, GraftDocLog}
        val e = emb(s, dir)
        val p = q6wIndexPath(dir)
        // standing IVF index over the FULL corpus, persisted (built
        // before any delete arrives — the index is stale by design)
        val cent = centroids(e)
        assignTo(e, cent).write.mode("overwrite").parquet(s"$p/assign")
        cent.write.mode("overwrite").parquet(s"$p/cent")
        // keyed doc store over the corpus; the compliance delete lands
        // as a tombstone commit (q79's flow)
        val store = QueryDef.materializePath(dir, "q6w_store")
        GraftDoc.write(e.select(col("vec_id"), col("label")), "vec_id",
          store, overwrite = true)
        GraftDoc.delete(s, store,
          e.filter(pmod(col("vec_id"), lit(9)) === 3).select("vec_id"))
        // tombstone set FROM THE STORE'S CHANGE LOG (latest version per
        // key is a delete) — the serve trusts the store, not the intent
        val wOp = Window.partitionBy(col("_id"))
          .orderBy(col(GraftDocLog.CommitCol).desc)
        val tomb = s.read.format("graft-doc")
          .option(GraftDocLog.WithOpOpt, "true").load(store)
          .withColumn("__rn", row_number().over(wOp))
          .filter(col("__rn") === 1 && col(GraftDocLog.OpCol) === "delete")
          .select(col("_id").cast("long").as("vec_id"))
        // serve from the persisted index MINUS tombstoned memberships;
        // deleted ids are excluded as queries too (a deleted user gets
        // no serve)
        val ic = s.read.parquet(s"$p/cent")
        // one count decides both joins' regime: broadcast while the
        // tombstone set fits, shuffle-hash sharded past
        // Tombstones.MaxBroadcast (the qaa/q6w serve contract)
        val nT = Some(tomb.count())
        val ia = graft.operators.Tombstones.antiJoin(
          s.read.parquet(s"$p/assign"), "vec_id", tomb, nT)
        val q = graft.operators.Tombstones.antiJoin(
            e.filter(col("vec_id") < 10), "vec_id", tomb, nT)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        ivfServeFor(q, e, ic, ia)
      }),

    // Hybrid retrieval with reciprocal-rank fusion (RRF, Cormack &
    // Clarke SIGIR'09) — the standard production shape for combining a
    // lexical index with a vector index: each system contributes only
    // its RANK (top-20 here), fused as sum of 1/(60+rank), so neither
    // score scale needs calibrating against the other. Lexical side =
    // token-set Jaccard via the inverted-index pattern (corpus tokens
    // equi-joined to the 10 broadcast query-token lists — only docs
    // sharing a token ever materialize, q61's machinery, never a
    // corpus×queries nested loop); vector side = exact cosine ranking
    // (q65's contract; swap in ivfServe for the approximate serve at
    // scale — fusion is rank-only, so the two sides compose freely).
    // Scale shape: one token-explode scan + one corpus scan, both
    // rankings per-query top-k windows (WindowGroupLimit pushes the
    // rank filter partition-local), and the fusion full-outer join
    // touches ≤ 40 rows per query. RRF scores are two-term sums of
    // 1/(60+r) over integer ranks in fixed order — deterministic
    // doubles on any engine.
    QueryDef(
      "q5u_hybrid_rrf",
      Some("""WITH dtok AS (
          SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok
          FROM documents),
        qtok AS (SELECT doc_id AS qid, tok FROM dtok WHERE doc_id < 10),
        dn AS (SELECT doc_id, count(*) AS dn FROM dtok GROUP BY doc_id),
        ov AS (SELECT q.qid, d.doc_id AS nid, count(*) AS ov
               FROM dtok d JOIN qtok q ON q.tok = d.tok AND d.doc_id <> q.qid
               GROUP BY 1, 2),
        jac AS (SELECT ov.qid, ov.nid,
                  round(CAST(ov.ov AS DOUBLE) / (dq.dn + dd.dn - ov.ov), 9) + 0 AS j
                FROM ov JOIN dn dd ON dd.doc_id = ov.nid
                        JOIN dn dq ON dq.doc_id = ov.qid),
        rt AS (SELECT qid, nid, rt FROM (
                 SELECT qid, nid, row_number() OVER (PARTITION BY qid
                   ORDER BY j DESC, nid) AS rt FROM jac) WHERE rt <= 20),
        rv AS (SELECT qid, nid, rv FROM (
                 SELECT q.vec_id AS qid, e.vec_id AS nid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
                       e.vec_id) AS rv
                 FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
                 WHERE q.vec_id < 10) WHERE rv <= 20),
        f AS (SELECT coalesce(rt.qid, rv.qid) AS qid,
                coalesce(rt.nid, rv.nid) AS nid,
                round(coalesce(1.0 / (60 + rt.rt), 0)
                    + coalesce(1.0 / (60 + rv.rv), 0), 9) + 0 AS rrf
              FROM rt FULL JOIN rv ON rv.qid = rt.qid AND rv.nid = rt.nid),
        r AS (SELECT qid, nid, rrf, row_number() OVER (PARTITION BY qid
                ORDER BY rrf DESC, nid) AS rnk FROM f)
        SELECT qid, nid, CAST(rrf AS DOUBLE) AS rrf, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 10 ORDER BY qid, rnk"""),
      (s, dir) => {
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
        val qt = d.filter(col("doc_id") < 10)
          .select(col("doc_id").as("qid"), col("tok").as("qtok"))
        val dn = d.groupBy(col("doc_id")).agg(count(lit(1)).as("dn"))
        val ov = d.join(broadcast(qt),
            col("tok") === col("qtok") && col("doc_id") =!= col("qid"))
          .groupBy(col("qid"), col("doc_id").as("nid"))
          .agg(count(lit(1)).as("ov"))
        val wT = Window.partitionBy(col("qid")).orderBy(col("j").desc, col("nid"))
        val rt = ov
          .join(dn.select(col("doc_id").as("nid"), col("dn").as("ddn")), Seq("nid"))
          .join(broadcast(dn.filter(col("doc_id") < 10)
            .select(col("doc_id").as("qid"), col("dn").as("qdn"))), Seq("qid"))
          .withColumn("j", round(col("ov").cast("double") /
            (col("qdn") + col("ddn") - col("ov")), 9))
          .withColumn("rt", row_number().over(wT))
          .filter(col("rt") <= 20)
          .select(col("qid"), col("nid"), col("rt"))
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val wV = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
        val rv = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("embedding")), 9))
          .select(col("qid"), col("vec_id").as("nid"), col("c"))
          .withColumn("rv", row_number().over(wV))
          .filter(col("rv") <= 20)
          .select(col("qid"), col("nid"), col("rv"))
        val wF = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("nid"))
        rt.join(rv, Seq("qid", "nid"), "full_outer")
          .withColumn("rrf", round(
            coalesce(lit(1.0) / (col("rt") + 60), lit(0.0)) +
            coalesce(lit(1.0) / (col("rv") + 60), lit(0.0)), 9))
          .withColumn("rnk", row_number().over(wF))
          .filter(col("rnk") <= 10)
          .select(col("qid"), col("nid"), col("rrf"), col("rnk"))
          .orderBy(col("qid"), col("rnk"))
      }),

    // Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1
    // Rademacher variant) + recall audit — the dimensionality-reduction
    // step in front of ANN: 64-dim float embeddings projected to 4 dims
    // through a DETERMINISTIC hash-derived sign matrix (no materialized
    // weights, no driver-side randomness — w(i,j) recomputes anywhere
    // from (i, j) alone, so 1000 executors agree without a broadcast),
    // then per-query top-5 on the projected metric is compared against
    // exact top-5 to measure what the compression costs. The projection
    // is one row-local HOF fold per vector (corpus never shuffles); the
    // recall join is per-query narrow like q65's baseline. Determinism:
    // the fold is sequential in index order, projected components round
    // 9 THEN cast float (the kmeansIterations idiom) before the shared
    // cosine kernel, ranking ties break on neighbor id.
    QueryDef(
      "q92_random_projection",
      Some("""WITH pe AS (
          SELECT vec_id, embedding,
            list_transform(generate_series(0, 3), j ->
              CAST(round(list_sum(list_transform(
                generate_series(0, CAST(len(embedding) - 1 AS INT)),
                i -> (CASE WHEN ((i * 2654435761 + j * 97003) % 1000003) % 2 = 0
                      THEN 1.0 ELSE -1.0 END) * embedding[i + 1]::DOUBLE)), 9)
                AS FLOAT)) AS pe
          FROM embeddings),
        q AS (SELECT vec_id AS qid, embedding AS qe, pe AS qp
              FROM pe WHERE vec_id % 31 = 0),
        ex AS (SELECT qid, e.vec_id AS nid FROM (
                 SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                   ORDER BY round(list_cosine_similarity(
                     q.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC,
                     e.vec_id) AS rn
                 FROM q, pe e WHERE e.vec_id <> q.qid) e WHERE rn <= 5),
        pr AS (SELECT qid, e.vec_id AS nid FROM (
                 SELECT q.qid, e.vec_id, row_number() OVER (PARTITION BY q.qid
                   ORDER BY round(list_cosine_similarity(
                     q.qp::DOUBLE[], e.pe::DOUBLE[]), 9) DESC,
                     e.vec_id) AS rn
                 FROM q, pe e WHERE e.vec_id <> q.qid) e WHERE rn <= 5),
        o AS (SELECT ex.qid, COUNT(*) AS n_overlap
              FROM ex JOIN pr ON pr.qid = ex.qid AND pr.nid = ex.nid
              GROUP BY ex.qid),
        d AS (SELECT qid, COUNT(*) AS n_exact FROM ex GROUP BY qid)
        SELECT d.qid, CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
          CAST(round(COALESCE(o.n_overlap, 0) * 1.0 / d.n_exact, 4) + 0 AS DOUBLE)
            AS recall
        FROM d LEFT JOIN o ON o.qid = d.qid ORDER BY d.qid"""),
      (s, dir) => {
        val pe = emb(s, dir).withColumn("pe", expr(
          """transform(sequence(0, 3), j ->
               cast(round(aggregate(sequence(0, size(embedding) - 1),
                 cast(0.0 as double),
                 (acc, i) -> acc +
                   (case when ((i * 2654435761L + j * 97003L) % 1000003L) % 2 = 0
                    then 1.0 else -1.0 end) * element_at(embedding, i + 1)),
               9) as float))"""))
        val q = pe.filter(col("vec_id") % 31 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("pe").as("qp"))
        def top5(scoreOf: DataFrame => Column, cand: DataFrame): DataFrame = {
          val j = cand.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
          val w = Window.partitionBy(col("qid"))
            .orderBy(col("c").desc, col("vec_id"))
          j.withColumn("c", scoreOf(j))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select(col("qid"), col("vec_id").as("nid"))
        }
        val ex = top5(
          d => round(VectorFunctions.cosine_sim(d("qe"), d("embedding")), 9), pe)
        val pr = top5(
          d => round(VectorFunctions.cosine_sim(d("qp"), d("pe")), 9), pe)
        val o = ex.join(pr, Seq("qid", "nid"))
          .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
        val dn = ex.groupBy(col("qid")).agg(count(lit(1)).as("n_exact"))
        dn.join(o, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            round(coalesce(col("n_overlap"), lit(0L)) * lit(1.0)
              / col("n_exact"), 4).as("recall"))
          .orderBy(col("qid"))
      })
,

    // Cluster-quality evaluation — the Davies–Bouldin diagnostic every
    // index build (q5k) / SemDeDup split (q6i) should report before its
    // clusters are trusted: per cluster, the within-cluster scatter
    // (mean cosine distance to the centroid) and the worst
    // scatter-vs-separation ratio R_i = max_{j≠i} (s_i+s_j)/d(c_i,c_j) —
    // high R_i = cluster i blurs into some neighbor, the split there is
    // noise. Shape: assignment is the q58 broadcast-argmax (N·k work,
    // one N-row shuffle); scatters are a per-cid agg; the centroid-pair
    // frame is k² = N rows of ids+doubles (k = √N), broadcast×broadcast,
    // never touching the corpus. Determinism: round-9 argmax, exact
    // 1−cos terms summed as DECIMAL, ratio round 9, max over quantized
    // doubles (order-free).
    QueryDef(
      "q9j_cluster_quality",
      Some(s"""WITH $centSql,
        a0 AS (SELECT e.vec_id, c.cid,
                round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) + 0 AS cc,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings e, cent c),
        a AS (SELECT vec_id, cid, cc FROM a0 WHERE rn = 1),
        sc AS (SELECT cid, COUNT(*) AS n_members,
                round(CAST(SUM(CAST(CAST(1 AS DOUBLE) - cc
                    AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 9) + 0 AS scatter
              FROM a GROUP BY cid),
        pair AS (SELECT c1.cid, c2.cid AS cid2,
                CAST(1 AS DOUBLE)
                  - round(list_cosine_similarity(c1.ce::DOUBLE[], c2.ce::DOUBLE[]), 9) + 0 AS d
              FROM cent c1, cent c2 WHERE c1.cid <> c2.cid),
        r AS (SELECT p.cid, round((s1.scatter + s2.scatter) / p.d, 9) + 0 AS ratio
              FROM pair p JOIN sc s1 ON p.cid = s1.cid
                          JOIN sc s2 ON p.cid2 = s2.cid
              WHERE p.d > 0)
        SELECT sc.cid, CAST(sc.n_members AS BIGINT) AS n_members,
          sc.scatter, m.r_db
        FROM sc JOIN (SELECT cid, MAX(ratio) AS r_db FROM r GROUP BY cid) m
          USING (cid)
        ORDER BY cid"""),
      (s, dir) => {
        val e = emb(s, dir)
        val cent = centroids(e)
        val assign = e.crossJoin(broadcast(cent))
          .withColumn("cc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cid"), col("cc")),
            struct(col("cc"), (-col("cid")).as("nc"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"), col("m.cc").as("cc"))
        val sc = assign.groupBy(col("cid"))
          .agg(count(lit(1)).as("n_members"),
            round(sum((lit(1.0) - col("cc")).cast("decimal(30,12)"))
              .cast("double") / count(lit(1)), 9).as("scatter"))
        val pair = cent
          .crossJoin(broadcast(
            cent.select(col("cid").as("cid2"), col("ce").as("ce2"))))
          .filter(col("cid") =!= col("cid2"))
          .select(col("cid"), col("cid2"),
            (lit(1.0) - round(VectorFunctions.cosine_sim(col("ce"), col("ce2")), 9))
              .as("d"))
          .filter(col("d") > 0)
        val ratio = pair
          .join(sc.select(col("cid"), col("scatter").as("s1")), Seq("cid"))
          .join(sc.select(col("cid").as("cid2"), col("scatter").as("s2")),
            Seq("cid2"))
          .select(col("cid"), round((col("s1") + col("s2")) / col("d"), 9)
            .as("ratio"))
        sc.join(ratio.groupBy(col("cid")).agg(max(col("ratio")).as("r_db")),
            Seq("cid"))
          .select(col("cid"), col("n_members").cast("long").as("n_members"),
            col("scatter"), col("r_db"))
          .orderBy(col("cid"))
      })
,

    // Ranking evaluation — MRR and nDCG@10 of the exact-cosine retriever
    // against label-match relevance: the metrics layer every retrieval /
    // RAG stack reports (q5n measures an ANN index's agreement with
    // exact search; this measures whether the RANKING itself surfaces
    // relevant items, graded by position). Relevance = shared `label`
    // (the embedding table's class column). nDCG discounts by
    // 1/log2(rank+1); the ideal DCG uses the corpus-wide relevant count
    // capped at 10, so a query with fewer than 10 relevant docs can
    // still reach 1.0 — the standard nDCG@k convention. Shape: the
    // 10-query frame broadcasts onto one corpus scan (q65's shape);
    // everything after the per-query top-10 is arithmetic on ≤ 100
    // rows. Determinism: log2/reciprocal quantized 9/12, DECIMAL sums,
    // final round 6 — the q5w idiom.
    QueryDef(
      "q9r_rank_eval",
      Some("""WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
               FROM embeddings WHERE vec_id < 10),
        s AS (SELECT q.qid, e.vec_id AS nid,
                round(list_cosine_similarity(q.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c,
                CASE WHEN e.label = q.ql THEN 1 ELSE 0 END AS rel
              FROM q JOIN embeddings e ON e.vec_id <> q.qid),
        r AS (SELECT qid, rel,
                row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rnk
              FROM s),
        t AS (SELECT qid, rnk, rel FROM r WHERE rnk <= 10),
        d AS (SELECT qid,
                CAST(SUM(CAST(CASE WHEN rel = 1
                    THEN round(CAST(1 AS DOUBLE) / round(log2(rnk + 1), 9), 12)
                    ELSE CAST(0 AS DOUBLE) END AS DECIMAL(30,14))) AS DOUBLE) AS dcg,
                CAST(SUM(rel) AS BIGINT) AS n_rel_top10,
                MIN(CASE WHEN rel = 1 THEN rnk END) AS minr
              FROM t GROUP BY qid),
        rc AS (SELECT qid, LEAST(COUNT(*), 10) AS rcap
               FROM s WHERE rel = 1 GROUP BY qid),
        ii AS (SELECT qid, unnest(generate_series(1, CAST(rcap AS INT))) AS i
               FROM rc),
        id AS (SELECT qid,
                CAST(SUM(CAST(round(CAST(1 AS DOUBLE) / round(log2(i + 1), 9), 12)
                  AS DECIMAL(30,14))) AS DOUBLE) AS idcg
               FROM ii GROUP BY qid)
        SELECT d.qid,
          COALESCE(round(CAST(1 AS DOUBLE) / d.minr, 6) + 0, CAST(0 AS DOUBLE)) AS mrr,
          COALESCE(round(d.dcg / id.idcg, 6) + 0, CAST(0 AS DOUBLE)) AS ndcg,
          d.n_rel_top10
        FROM d LEFT JOIN id ON d.qid = id.qid
        ORDER BY d.qid"""),
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"),
            col("label").as("ql"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("embedding")), 9))
          .withColumn("rel",
            when(col("label") === col("ql"), 1).otherwise(0))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("c").desc, col("vec_id"))
        val top = scored.withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
        val d = top.groupBy(col("qid")).agg(
          sum(when(col("rel") === 1,
              round(lit(1.0) / round(log2(col("rnk") + 1), 9), 12))
            .otherwise(lit(0.0)).cast("decimal(30,14)")).cast("double")
            .as("dcg"),
          sum(col("rel")).cast("long").as("n_rel_top10"),
          min(when(col("rel") === 1, col("rnk"))).as("minr"))
        val rc = scored.filter(col("rel") === 1).groupBy(col("qid"))
          .agg(least(count(lit(1)), lit(10L)).as("rcap"))
        val idcg = rc
          .select(col("qid"),
            explode(sequence(lit(1), col("rcap").cast("int"))).as("i"))
          .select(col("qid"),
            round(lit(1.0) / round(log2(col("i") + 1), 9), 12).as("term"))
          .groupBy(col("qid"))
          .agg(sum(col("term").cast("decimal(30,14)")).cast("double")
            .as("idcg"))
        d.join(idcg, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(round(lit(1.0) / col("minr"), 6), lit(0.0)).as("mrr"),
            coalesce(round(col("dcg") / col("idcg"), 6), lit(0.0)).as("ndcg"),
            col("n_rel_top10"))
          .orderBy(col("qid"))
      })
,

    // Embedding-space distribution drift — per-label centroid vs the
    // corpus centroid (cosine drift + L2 displacement): the embedding
    // twin of q9d's token-space KL, and the monitoring statistic behind
    // "did this supplier/model-version shift the representation space"
    // (a new encoder version or a drifted crawl slice moves centroids
    // long before top-k metrics degrade). Everything runs in LONG
    // format (label, dim, mean) with decimal-sum/round-9 means and
    // round-12 product terms — no float-vector accumulation whose
    // reduction order could wobble; sqrt and division are IEEE
    // correctly-rounded so they need no quantization. Shape: one
    // explode to (label, dim, v) narrow rows, two mean aggs, the 64-row
    // global-centroid frame broadcasts back.
    QueryDef(
      "q9v_centroid_drift",
      Some("""WITH x AS (SELECT label, i AS dim,
                 CAST(embedding[i] AS DOUBLE) AS v
               FROM embeddings, generate_series(1, 64) AS g(i)),
        ml AS (SELECT label, dim,
                round(CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE)
                  / COUNT(*), 9) + 0 AS m,
                COUNT(*) AS n
              FROM x GROUP BY label, dim),
        mg AS (SELECT dim,
                round(CAST(SUM(CAST(v AS DECIMAL(30,12))) AS DOUBLE)
                  / COUNT(*), 9) + 0 AS m
              FROM x GROUP BY dim),
        ng AS (SELECT CAST(SUM(CAST(round(m * m, 12) AS DECIMAL(30,14)))
                 AS DOUBLE) AS s FROM mg),
        t AS (SELECT ml.label, ml.n,
                CAST(SUM(CAST(round(ml.m * mg.m, 12) AS DECIMAL(30,14)))
                  AS DOUBLE) AS dot,
                CAST(SUM(CAST(round(ml.m * ml.m, 12) AS DECIMAL(30,14)))
                  AS DOUBLE) AS nl,
                CAST(SUM(CAST(round((ml.m - mg.m) * (ml.m - mg.m), 12)
                  AS DECIMAL(30,14))) AS DOUBLE) AS d2
              FROM ml JOIN mg USING (dim) GROUP BY ml.label, ml.n)
        SELECT label, CAST(n AS BIGINT) AS n_vecs,
          round(CAST(1 AS DOUBLE)
            - dot / (sqrt(nl) * sqrt((SELECT s FROM ng))), 6) + 0 AS cos_drift,
          round(sqrt(d2), 6) + 0 AS l2_drift
        FROM t ORDER BY label"""),
      (s, dir) => {
        val x = emb(s, dir).select(col("label"),
            posexplode(col("embedding")).as(Seq("p", "v")))
          .select(col("label"), (col("p") + 1).as("dim"),
            col("v").cast("double").as("v"))
        def meanAgg = round(sum(col("v").cast("decimal(30,12)"))
          .cast("double") / count(lit(1)), 9)
        val ml = x.groupBy(col("label"), col("dim"))
          .agg(meanAgg.as("m"), count(lit(1)).as("n"))
        val mg = x.groupBy(col("dim")).agg(meanAgg.as("mg"))
        val ng = mg.agg(sum(round(col("mg") * col("mg"), 12)
          .cast("decimal(30,14)")).cast("double").as("s")).scalar()
        ml.join(broadcast(mg), Seq("dim"))
          .groupBy(col("label"), col("n"))
          .agg(
            sum(round(col("m") * col("mg"), 12).cast("decimal(30,14)"))
              .cast("double").as("dot"),
            sum(round(col("m") * col("m"), 12).cast("decimal(30,14)"))
              .cast("double").as("nl"),
            sum(round((col("m") - col("mg")) * (col("m") - col("mg")), 12)
              .cast("decimal(30,14)")).cast("double").as("d2"))
          .select(col("label"), col("n").cast("long").as("n_vecs"),
            round(lit(1.0) - col("dot") / (sqrt(col("nl")) * sqrt(ng)), 6)
              .as("cos_drift"),
            round(sqrt(col("d2")), 6).as("l2_drift"))
          .orderBy(col("label"))
      }),

    // Scalar (per-dimension int8) quantization + recall eval — the THIRD
    // compression point on this engine's accuracy/byte curve: full floats
    // (q65, 256 B/vec) > SQ8 (this, 64 B/vec) > PQ (q5s, 8 B/vec). SQ8 is
    // what production serving stacks reach for first because the decode
    // is two flops per dimension (an affine rescale of the byte code —
    // no codebook lookup) and recall barely moves. Train: per-dimension
    // corpus [min, max] (one map-side-combined aggregate, 64 rows out);
    // encode: code_i = clamp(floor((x_i - mn_i)·256/(mx_i - mn_i)), 255)
    // — row-local through ONE broadcast row carrying both 64-float
    // bounds arrays (centroid idiom); serve: cosine over the ON-THE-FLY
    // dequantized reconstructions mn_i + (code_i + ½)·Δ_i (storage and
    // shuffle stay 64 B/vec — the floats exist only inside the row's
    // codegen loop); eval: overlap of SQ top-5 with the exact float
    // top-5 (q65's rank rule) per query. Every float step is the
    // engine-identical double discipline (round(·,9) guards at the
    // clamp boundary and the rank key; reconstruction cast through
    // FLOAT so both engines rank the same IEEE values). Scale shape:
    // train is one 64-row aggregate; encode is embarrassingly parallel;
    // serve reads 64 B/candidate plus the broadcast query block, no
    // shuffle until the 10-partition rank window folds.
    QueryDef(
      "qac_sq_int8",
      Some("""WITH mm AS (SELECT g.i AS i,
                 MIN(embedding[g.i]) AS mn, MAX(embedding[g.i]) AS mx
               FROM embeddings, generate_series(1, 64) AS g(i) GROUP BY g.i),
        qt AS (SELECT e.vec_id, m.i,
                 LEAST(255, CAST(floor(round(COALESCE(
                   (e.embedding[m.i]::DOUBLE - m.mn::DOUBLE) * 256.0
                     / NULLIF(m.mx::DOUBLE - m.mn::DOUBLE, 0), 0), 9))
                   AS INT)) AS c
               FROM embeddings e JOIN mm m ON TRUE),
        dq AS (SELECT q.vec_id, list(CAST(m.mn::DOUBLE
                   + (q.c + 0.5) * ((m.mx::DOUBLE - m.mn::DOUBLE) / 256.0)
                   AS FLOAT) ORDER BY q.i) AS dv
               FROM qt q JOIN mm m ON m.i = q.i GROUP BY q.vec_id),
        sc AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                 round(list_cosine_similarity(a.dv::DOUBLE[],
                   b.dv::DOUBLE[]), 9) + 0 AS s
               FROM dq a JOIN dq b ON b.vec_id <> a.vec_id
               WHERE a.vec_id < 10),
        appr AS (SELECT qid, nid FROM (
                 SELECT qid, nid, row_number() OVER (PARTITION BY qid
                     ORDER BY s DESC, nid) AS rnk FROM sc) WHERE rnk <= 5),
        ex0 AS (SELECT q.vec_id AS qid, e.vec_id AS nid,
                 round(list_cosine_similarity(q.embedding::DOUBLE[],
                   e.embedding::DOUBLE[]), 9) + 0 AS c
               FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
               WHERE q.vec_id < 10),
        exact AS (SELECT qid, nid FROM (
                 SELECT qid, nid, row_number() OVER (PARTITION BY qid
                     ORDER BY c DESC, nid) AS rnk FROM ex0) WHERE rnk <= 5),
        m AS (SELECT a.qid, COUNT(*) AS n_match
              FROM appr a JOIN exact e ON e.qid = a.qid AND e.nid = a.nid
              GROUP BY 1),
        qs AS (SELECT vec_id AS qid FROM embeddings WHERE vec_id < 10)
        SELECT qs.qid, CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match,
          CAST(COALESCE(m.n_match, 0) * 1000000 // 5 AS BIGINT) AS recall_ppm
        FROM qs LEFT JOIN m ON m.qid = qs.qid ORDER BY qs.qid"""),
      (s, dir) => {
        val e = emb(s, dir)
        val dims = e
          .select(posexplode(col("embedding")).as(Seq("i0", "x")))
          .groupBy(col("i0"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        val bounds = dims
          .agg(collect_list(struct(col("i0"), col("mn"), col("mx"))).as("t"))
          .select(
            expr("transform(array_sort(t), u -> cast(u.mn as double))")
              .as("mn"),
            expr("transform(array_sort(t), u -> cast(u.mx as double))")
              .as("mx"))
        val codes = e.crossJoin(broadcast(bounds))
          .select(col("vec_id"), expr(
            """transform(sequence(1, 64), i -> least(255, cast(floor(round(
                 coalesce((cast(element_at(embedding, i) as double)
                     - element_at(mn, i)) * 256.0
                   / nullif(element_at(mx, i) - element_at(mn, i), 0), 0),
                 9)) as int)))""").as("code"),
            col("mn"), col("mx"))
          .select(col("vec_id"), expr(
            """cast(transform(sequence(1, 64), i ->
                 element_at(mn, i) + (cast(element_at(code, i) as double)
                     + 0.5d)
                   * ((element_at(mx, i) - element_at(mn, i)) / 256.0d))
               as array<float>)""").as("dv"))
        val qdv = codes.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("dv").as("qv"))
        val appr = codes
          .join(broadcast(qdv), col("vec_id") =!= col("qid"))
          .withColumn("s",
            round(VectorFunctions.cosine_sim(col("qv"), col("dv")), 9))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("s").desc, col("vec_id"))))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("nid"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("qe"), col("embedding")), 9))
          .withColumn("rnk", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id"))))
          .filter(col("rnk") <= 5)
          .select(col("qid"), col("vec_id").as("nid"))
        val matches = appr.join(exact, Seq("qid", "nid"))
          .groupBy(col("qid")).agg(count(lit(1)).as("n_match"))
        q.select(col("qid"))
          .join(matches, Seq("qid"), "left")
          .select(col("qid"),
            coalesce(col("n_match"), lit(0L)).as("n_match"),
            expr("coalesce(n_match, 0) * 1000000 div 5").as("recall_ppm"))
          .orderBy(col("qid"))
      }),

    // Semantic decontamination — q5e's embedding twin: n-gram overlap
    // (q5e) misses PARAPHRASED benchmark leakage; here every corpus
    // vector that lands in a benchmark query's probed IVF cells gets an
    // exact-cosine verdict against the benchmark set (vec_id % 20 = 7,
    // q5e's holdout convention), flagged at the corpus's q64 near-dup
    // threshold (cos ≥ 0.45). The scan path is the q5i build/serve
    // split: the CORPUS index (centroids + memberships) is built once
    // and PERSISTED; the benchmark side is a tiny broadcast frame that
    // probes nprobe=2 cells per query — at 100 TB the screen touches
    // |probed cells| of the corpus by id join, never a full pass, and
    // rescreening a new benchmark reuses the standing index as-is.
    // Candidates outside probed cells are unscreened BY DESIGN (the IVF
    // recall trade every ANN deployment prices — q5n/annsweep measure
    // it); the oracle reads the SAME persisted index and replays probe +
    // verdicts, so recall loss is replayed, not hidden.
    QueryDef(
      "qan_semantic_decontamination",
      Some(s"""WITH ic AS (
          SELECT * FROM read_parquet('${qanIndexPath(sfDir)}/cent/*.parquet')),
        ia AS (
          SELECT * FROM read_parquet('${qanIndexPath(sfDir)}/assign/*.parquet')),
        b AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id % 20 = 7),
        probe0 AS (SELECT b.qid, b.qe, ic.cid,
            row_number() OVER (PARTITION BY b.qid
              ORDER BY round(list_cosine_similarity(b.qe::DOUBLE[], ic.ce::DOUBLE[]), 9) DESC,
                ic.cid) AS rn
          FROM b, ic),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, a.vec_id AS nid,
            round(list_cosine_similarity(p.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS cs
          FROM probe p JOIN ia a ON a.cid = p.cid
          JOIN embeddings e ON e.vec_id = a.vec_id),
        r AS (SELECT nid, qid, cs,
            row_number() OVER (PARTITION BY nid
              ORDER BY cs DESC, qid) AS rn
          FROM cand)
        SELECT nid AS vec_id, qid AS bench_id,
          CAST(round(cs, 4) + 0 AS DOUBLE) AS cos,
          CASE WHEN cs >= 0.45 THEN 1 ELSE 0 END AS contaminated
        FROM r WHERE rn = 1 ORDER BY vec_id"""),
      (s, dir) => {
        val e = emb(s, dir)
        val corpus = e.filter(col("vec_id") % 20 =!= 7)
        val bench = e.filter(col("vec_id") % 20 === 7)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val p = qanIndexPath(dir)
        // BUILD once over the corpus only (the benchmark is the query
        // side, never indexed), persist
        val cent = centroids(corpus)
        assignTo(corpus, cent).write.mode("overwrite").parquet(s"$p/assign")
        cent.write.mode("overwrite").parquet(s"$p/cent")
        // SERVE from the persisted index: benchmark probes its 2 cells
        val ic = s.read.parquet(s"$p/cent")
        val ia = s.read.parquet(s"$p/assign")
        val wProbe = Window.partitionBy(col("qid"))
          .orderBy(col("qc").desc, col("cid"))
        val probe = bench.crossJoin(broadcast(ic))
          .withColumn("qc",
            round(VectorFunctions.cosine_sim(col("qe"), col("ce")), 9))
          .withColumn("rn", row_number().over(wProbe))
          .filter(col("rn") <= 2)
          .select(col("qid"), col("qe"), col("cid"))
        val cand = ia.join(broadcast(probe), Seq("cid"))
          .select(col("qid"), col("qe"), col("vec_id").as("nid"))
          .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
            Seq("nid"))
          .withColumn("cs",
            round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9))
        val wVerdict = Window.partitionBy(col("nid"))
          .orderBy(col("cs").desc, col("qid"))
        cand.withColumn("rn", row_number().over(wVerdict))
          .filter(col("rn") === 1)
          .select(col("nid").as("vec_id"), col("qid").as("bench_id"),
            round(col("cs"), 4).as("cos"),
            when(col("cs") >= 0.45, 1).otherwise(0).cast("int")
              .as("contaminated"))
          .orderBy(col("vec_id"))
      }),

    // NN-Descent k-NN-graph construction — the third ANN index family
    // (IVF: q66/q5i, PQ: q5s/q5t, graph: this): deterministic
    // pseudo-random init, then bounded neighbor-of-neighbor improvement
    // rounds, each a capped-degree equi self-join — the Pregel template
    // applied to index BUILDING. Output: the 10 query nodes' final
    // lists with per-edge exact-top-k membership (recall@5 readable per
    // node), so the oracle certifies both the unrolled build and the
    // recall claim. Design + scale shape:
    // [[graft.operators.NnDescent]]; ScaleProbe `nndescent` measures
    // per-round cost growth under corpus replication.
    QueryDef(
      "qao_nndescent_knn_graph",
      Some(graft.operators.NnDescent.oracleSql),
      (s, dir) => {
        val e = emb(s, dir)
        val knn = graft.operators.NnDescent.knnGraph(e)
        graft.operators.NnDescent.reportTopK(knn.filter(col("vec_id") < 10),
          exactTopK(e, graft.operators.NnDescent.ReportK))
      }),

    // Greedy graph-ANN SERVE — the search half of qao's build (the HNSW
    // layer-0 walk, single beam): the k-NN graph is built once and
    // PERSISTED (the q5i build/serve discipline applied to the graph
    // family); every query then walks from a fixed entry node, each hop
    // an equi join into ≤K stored edges + an id join for the probed
    // vectors — O(hops·K) distance evaluations per query against the
    // brute-force N. Output is the full per-hop TRAJECTORY with
    // exact-top-5 membership flags, so the oracle (which reads the SAME
    // persisted graph) certifies every hop's argmax and the walk's
    // convergence into the true neighborhood, not just an endpoint.
    QueryDef(
      "qaq_graph_ann_serve",
      Some(graft.operators.NnDescent.serveOracleSql(qaqGraphPath(sfDir))),
      (s, dir) => {
        import graft.operators.NnDescent
        val e = emb(s, dir)
        val p = qaqGraphPath(dir)
        NnDescent.knnGraph(e).write.mode("overwrite").parquet(p)
        val g = s.read.parquet(p)
        val traj = NnDescent.greedyServe(e, g)
        val exact = exactTopK(e, NnDescent.ReportK)
          .withColumn("in_top5", lit(1))
        traj.join(exact,
            traj("qid") === exact("qid") && traj("cur") === exact("nid"),
            "left")
          .select(traj("qid"), col("hop"), col("cur").as("nid"),
            round(col("curc"), 4).as("cos"),
            coalesce(col("in_top5"), lit(0)).cast("int").as("in_top5"))
          .orderBy(traj("qid"), col("hop"))
      }),

    // Beam (ef-search) graph-ANN serve — the quality half of HNSW's
    // search story over the SAME graph family: qaq's walk is ef=1 and
    // gets stuck on local optima; a width-4 beam expands all beam
    // nodes' stored edges each hop (≤ 4·K distance evals/query/hop,
    // still independent of N) and keeps the deterministic top-4. The
    // output is every hop's FULL beam with exact-top-5 flags, so the
    // recall the extra width buys over qaq's endpoint is readable in
    // the artifact itself (same graph algorithm, same queries, same
    // entry node). Design: [[graft.operators.NnDescent.beamServe]].
    QueryDef(
      "qat_beam_graph_serve",
      Some(graft.operators.NnDescent.beamServeOracleSql(qatGraphPath(sfDir))),
      (s, dir) => {
        import graft.operators.NnDescent
        val e = emb(s, dir)
        val p = qatGraphPath(dir)
        NnDescent.knnGraph(e).write.mode("overwrite").parquet(p)
        val g = s.read.parquet(p)
        val traj = NnDescent.beamServe(e, g)
        val exact = exactTopK(e, NnDescent.ReportK)
          .withColumn("in_top5", lit(1))
        traj.join(exact,
            traj("qid") === exact("qid") && traj("nid") === exact("nid"),
            "left")
          .select(traj("qid"), col("hop"), col("rank"), traj("nid"),
            round(col("c"), 4).as("cos"),
            coalesce(col("in_top5"), lit(0)).cast("int").as("in_top5"))
          .orderBy(traj("qid"), col("hop"), col("rank"))
      }),

    // Hierarchical two-layer graph serve — the full HNSW shape (Malkov
    // & Yashunin 2016): a sparse upper layer (every 8th vector,
    // id-algebra sample) carries its OWN NN-Descent graph; queries walk
    // it from one global entry, then hand the endpoint off as a
    // PER-QUERY entry into the layer-0 walk — a query-adapted entry
    // for O(L1Hops·K) extra distance evals, where qaq pays its whole
    // walk from one fixed node. Both layers build with the
    // qao-certified construction (layer 1 on the remapped dense
    // sub-table) and persist; the serve walks stored edges only, both
    // trajectories dumped with exact-top-5 flags, row-comparable to
    // qaq/qat on the same queries. Design:
    // [[graft.operators.NnDescent.hierarchicalServe]].
    QueryDef(
      "qax_hierarchical_graph_serve",
      Some(graft.operators.NnDescent.hierarchicalOracleSql(
        qaxLayerPath(sfDir, 1), qaxLayerPath(sfDir, 0))),
      (s, dir) => {
        import graft.operators.NnDescent
        val e = emb(s, dir)
        val p1 = qaxLayerPath(dir, 1)
        val p0 = qaxLayerPath(dir, 0)
        NnDescent.layer1Graph(e).write.mode("overwrite").parquet(p1)
        NnDescent.knnGraph(e).write.mode("overwrite").parquet(p0)
        val traj = NnDescent.hierarchicalServe(
          e, s.read.parquet(p1), s.read.parquet(p0))
        val exact = exactTopK(e, NnDescent.ReportK)
          .withColumn("in_top5", lit(1))
        traj.join(exact,
            traj("qid") === exact("qid") && traj("cur") === exact("nid"),
            "left")
          .select(traj("qid"), col("layer"), col("hop"),
            col("cur").as("nid"), round(col("curc"), 4).as("cos"),
            coalesce(col("in_top5"), lit(0)).cast("int").as("in_top5"))
          .orderBy(traj("qid"), col("layer").desc, col("hop"))
      }),

    // Incremental graph-ANN maintenance — the insert path that completes
    // the graph family's lifecycle (IVF has q5m, MinHash has qa8, stats
    // have qaj): the newest nn/16 vectors join a PERSISTED base graph
    // with NO rebuild — beam-seed from the candidate pool, back-edge
    // re-top-K on touched base nodes only, one local NN-Descent
    // refinement round over the insertion neighborhood. Output: every
    // new node's merged-graph top-5 with exact-top-5 flags over the FULL
    // corpus, so the insert's recall is readable next to qao's build
    // recall. Design: [[graft.operators.NnDescent.insertDelta]];
    // `GraphInsertPropSpec` proves recall parity vs a full rebuild.
    QueryDef(
      "qb3_graph_insert",
      Some(graft.operators.NnDescent.insertOracleSql(qb3GraphPath(sfDir))),
      (s, dir) => {
        import graft.operators.NnDescent
        val e = emb(s, dir)
        // plan-time split point (the qae/qam metadata-scalar precedent):
        // base = all but the newest nn/16 ids, delta = the rest
        val nn = e.count()
        val nBase = nn - nn / 16
        val p = qb3GraphPath(dir)
        NnDescent.knnGraph(e.filter(col("vec_id") < nBase))
          .write.mode("overwrite").parquet(p)
        val merged = NnDescent.insertDelta(e, s.read.parquet(p), nBase)
        // evidence is SAMPLED (the qau SampleMod idiom, via
        // NnDescent.FlagSampleMod): the merge above ran for every new
        // node; only sampled nodes are reported and brute-probed, so
        // the O(probed·N) exact flags scale with the sample, not the
        // delta
        val qS = e.filter(col("vec_id") >= nBase &&
          pmod(col("vec_id"), lit(NnDescent.FlagSampleMod)) === 0)
        NnDescent.reportTopK(
          merged.join(qS.select(col("vec_id")), Seq("vec_id"), "left_semi"),
          exactTopKOf(e, NnDescent.ReportK, qS))
      }),

    // Graph-ANN delete with LOCAL repair — the remove path completing
    // the graph lifecycle (IVF has q6w tombstones, MinHash qaa):
    // dropping a node's list is trivial; the holes it leaves in
    // SURVIVING lists are the real work. FreshDiskANN's repair rule:
    // a survivor that lost edge u→d considers d's former out-neighbors
    // (d was close to u, so d's neighborhood is the best local patch —
    // no global search). Affected set = one semi join; candidates =
    // one equi join into d's stored list (≤K² per affected node,
    // N-independent); untouched lists pass through the anti join as
    // untouched bytes. Output: every repaired node's served top-5 with
    // exact flags over the SURVIVING corpus. Design:
    // [[graft.operators.NnDescent.deleteRepair]].
    QueryDef(
      "qb4_graph_delete",
      Some(graft.operators.NnDescent.deleteOracleSql(qb4GraphPath(sfDir))),
      (s, dir) => {
        import graft.operators.NnDescent
        val e = emb(s, dir)
        val p = qb4GraphPath(dir)
        NnDescent.knnGraph(e).write.mode("overwrite").parquet(p)
        val g0 = s.read.parquet(p)
        val repairedG = NnDescent.deleteRepair(e, g0)
        def dead(c: org.apache.spark.sql.Column) =
          pmod(c, lit(NnDescent.DeleteMod)) === lit(NnDescent.DeleteRes)
        val touched = g0.filter(!dead(col("vec_id")) && dead(col("nid")))
          .select(col("vec_id")).distinct()
        val surE = e.filter(!dead(col("vec_id")))
        // evidence flags only (the repair itself is N-independent): with
        // DeleteMod=16 and K=10 ~half the survivors are touched, so the
        // exact probe SAMPLES the touched set (the qau SampleMod idiom,
        // via NnDescent.FlagSampleMod) — the repair above still ran for
        // every touched node; only sampled nodes are reported/probed
        val touchedS = touched.filter(
          pmod(col("vec_id"), lit(NnDescent.FlagSampleMod)) === 0)
        NnDescent.reportTopK(repairedG.join(touchedS, Seq("vec_id"), "left_semi"),
          exactTopKOf(surE, NnDescent.ReportK, touchedS))
      }),

    // Graph-index COMPACTION — the verb completing the lifecycle the
    // family now has end to end (build qao, serve qaq/qat/qax, insert
    // qb3, delete qb4): incremental maintenance trades recall for
    // locality, and generation chains accrete files — periodically the
    // index folds its chain (base build + insert merge + tombstone
    // repair, persisted here as three generations) back into ONE
    // rebuilt-equivalent graph. The compaction derives the LIVE id set
    // from the chain itself (every live node owns a list; tombstoned
    // nodes own none) and re-runs the qao-certified construction on
    // exactly that corpus — so the oracle is qao's own unrolled build
    // replay parameterized by the live corpus (the qa8/qaj "merged ≡
    // rebuilt" claim, graph edition). Output: the live query nodes'
    // compacted top-5 with exact flags over the live corpus — row-
    // comparable to qao's build recall, with incremental drift reset
    // to zero. Design: [[graft.operators.NnDescent.compact]];
    // `GraphCompactionPropSpec` proves chain-derived live set ≡ rule-
    // derived on random corpora + insert/delete/compact ≡ rebuild.
    QueryDef(
      "qb5_graph_compaction",
      Some(graft.operators.NnDescent.compactionOracleSql),
      (s, dir) => {
        import graft.operators.NnDescent
        val e = emb(s, dir)
        // the qb3 generation chain: base = all but the newest nn/16
        val nn = e.count()
        val nBase = nn - nn / 16
        val p0 = qb5GenPath(dir, 0)
        val p1 = qb5GenPath(dir, 1)
        val p2 = qb5GenPath(dir, 2)
        NnDescent.knnGraph(e.filter(col("vec_id") < nBase))
          .write.mode("overwrite").parquet(p0)
        NnDescent.insertDelta(e, s.read.parquet(p0), nBase)
          .write.mode("overwrite").parquet(p1)
        NnDescent.deleteRepair(e, s.read.parquet(p1))
          .write.mode("overwrite").parquet(p2)
        val compacted = NnDescent.compact(e, s.read.parquet(p2))
        val liveE = e.join(
          s.read.parquet(p2).select(col("vec_id")).distinct(),
          Seq("vec_id"), "left_semi")
        NnDescent.reportTopK(compacted.filter(col("vec_id") < 10),
          exactTopK(liveE, NnDescent.ReportK))
      }),

    // IVF-index COMPACTION — qb5's claim carried to the SECOND index
    // family (IVF now has build q66/q5i, refine q5k/q5l, update q5m,
    // serve-under-tombstones q6w, and the fold that resets them): the
    // incremental chain is stale two ways — the delta generation was
    // assigned against the BASE's centroids (never re-seeded, so k no
    // longer tracks √N), and tombstoned memberships still occupy file
    // bytes. Compaction derives the LIVE id set from the chain itself
    // (membership generations minus the tombstone set), re-seeds and
    // re-assigns over exactly that corpus, and serves q66's probe from
    // the compacted index — the oracle is q66's own build+serve replay
    // parameterized by the live corpus, so the hash certifies
    // compact(chain) ≡ build(live). Design: the qa8/qaj merged-≡-rebuilt
    // pattern; spec `IvfCompactionPropSpec`.
    QueryDef(
      "qb6_ivf_compaction",
      Some("""WITH le AS MATERIALIZED (
          SELECT * FROM embeddings WHERE vec_id % 9 <> 3),
        cent AS (SELECT vec_id AS cid, embedding AS ce FROM le
          WHERE vec_id < (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) FROM le)),
        assign0 AS (SELECT e.vec_id, c.cid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM le e, cent c),
        assign AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
        q AS (SELECT vec_id AS qid, embedding AS qe FROM le WHERE vec_id < 10),
        probe0 AS (SELECT q.qid, q.qe, c.cid,
                row_number() OVER (PARTITION BY q.qid
                  ORDER BY round(list_cosine_similarity(q.qe::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM q, cent c),
        probe AS (SELECT qid, qe, cid FROM probe0 WHERE rn <= 2),
        cand AS (SELECT p.qid, p.qe, a.vec_id AS nid
              FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.qid),
        rr AS (SELECT c.qid, c.nid,
                round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) + 0 AS c0,
                row_number() OVER (PARTITION BY c.qid
                  ORDER BY round(list_cosine_similarity(c.qe::DOUBLE[], e.embedding::DOUBLE[]), 9) DESC, c.nid) AS rnk
              FROM cand c JOIN le e ON e.vec_id = c.nid)
        SELECT qid, nid, CAST(round(c0, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = emb(s, dir)
        val nn = e.count()
        val nBase = nn - nn / 16
        val p = qb6GenPath(dir)
        // gen0: base build — centroids seeded from the BASE corpus, so
        // they are stale by design once the delta lands
        val base = e.filter(col("vec_id") < nBase)
        val c0 = centroids(base)
        c0.write.mode("overwrite").parquet(s"$p/gen0_cent")
        assignTo(base, c0).write.mode("overwrite").parquet(s"$p/gen0_assign")
        // gen1: the q5m update — delta assigned against the PERSISTED
        // stale centroids, appended as its own generation
        assignTo(e.filter(col("vec_id") >= nBase),
            s.read.parquet(s"$p/gen0_cent"))
          .write.mode("overwrite").parquet(s"$p/gen1_assign")
        // gen2: compliance tombstones (q6w's rule)
        e.filter(pmod(col("vec_id"), lit(9)) === 3).select("vec_id")
          .write.mode("overwrite").parquet(s"$p/gen2_tombstones")
        // COMPACT: live ids from the chain itself, then a re-seeded
        // build over exactly that corpus — k tracks √(live) again and
        // tombstone bytes are gone
        val members = s.read.parquet(s"$p/gen0_assign").select("vec_id")
          .unionByName(s.read.parquet(s"$p/gen1_assign").select("vec_id"))
        val live = members
          .join(s.read.parquet(s"$p/gen2_tombstones"), Seq("vec_id"), "left_anti")
          .distinct()
        val liveE = e.join(live, Seq("vec_id"), "left_semi")
        val (cc, ca) = buildIndex(liveE)
        ivfServeFor(
          liveE.filter(col("vec_id") < 10)
            .select(col("vec_id").as("qid"), col("embedding").as("qe")),
          liveE, cc, ca)
      }),

    // PQ serve under DELETES — the q6w/qaa serve-under-tombstones verb
    // carried to the PQ index family (which had build q5s/q5t and
    // batch/streaming serve q8z, but no compliance answer): the codebook
    // and the 8-byte codes persist BEFORE any delete arrives (the index
    // is stale by design), right-to-be-forgotten lands as graft-doc
    // tombstone commits (q79's flow), and the serve drops deleted ids
    // from the persisted CODES table at query time via an anti join
    // against the tombstone set extracted from the store's own change
    // log (`_op = 'delete'`, latest version per key — the serve trusts
    // the store, not the intent). A deleted vector can never appear in
    // any top-k, effective at the NEXT query after the tombstone
    // commit; codebook retrain and code re-encode are deferred to
    // compaction (qc2). Scale shape: tombstones ≪ corpus (broadcast
    // anti join on narrow ids against the codes table — the 8-byte
    // rows, never raw vectors); everything downstream is q8z's serve
    // (128-row-per-query LUT broadcast, (j, code) equi join, map-side
    // partial ADC sums). Oracle = q5s's replay with the tombstone rule
    // applied to candidates AND queries — the q6w convention.
    QueryDef(
      "qc1_pq_tombstone_serve",
      Some(pqAdcOracleSqlFor("embeddings",
        "c.vec_id % 9 <> 3", "q.vec_id % 9 <> 3")),
      (s, dir) => {
        import graft.connector.{GraftDoc, GraftDocLog}
        val e = emb(s, dir)
        val p = qc1IndexPath(dir)
        // standing PQ index over the FULL corpus, persisted before any
        // delete arrives — stale by design
        val sub = pqSub(e)
        pqCodebook(sub).write.mode("overwrite").parquet(s"$p/cb")
        val icb = s.read.parquet(s"$p/cb")
        pqCodes(sub, icb).write.mode("overwrite").parquet(s"$p/codes")
        // keyed doc store over the corpus; the compliance delete lands
        // as a tombstone commit (q79's flow)
        val store = QueryDef.materializePath(dir, "qc1_store")
        GraftDoc.write(e.select(col("vec_id"), col("label")), "vec_id",
          store, overwrite = true)
        GraftDoc.delete(s, store,
          e.filter(pmod(col("vec_id"), lit(9)) === 3).select("vec_id"))
        // tombstone set FROM THE STORE'S CHANGE LOG (latest version per
        // key is a delete), never the delete predicate re-derived
        val wOp = Window.partitionBy(col("_id"))
          .orderBy(col(GraftDocLog.CommitCol).desc)
        val tomb = s.read.format("graft-doc")
          .option(GraftDocLog.WithOpOpt, "true").load(store)
          .withColumn("__rn", row_number().over(wOp))
          .filter(col("__rn") === 1 && col(GraftDocLog.OpCol) === "delete")
          .select(col("_id").cast("long").as("vec_id"))
        // serve from the persisted index MINUS tombstoned code rows
        // (broadcast anti join while the set fits, shuffle-hash sharded
        // past Tombstones.MaxBroadcast — and past that scale a
        // compaction, qc2's verb, is overdue anyway); deleted ids are
        // excluded as queries too
        val nT = Some(tomb.count())
        val codes = graft.operators.Tombstones.antiJoin(
          s.read.parquet(s"$p/codes"), "vec_id", tomb, nT)
        val q = graft.operators.Tombstones.antiJoin(
            e.filter(col("vec_id") < 10), "vec_id", tomb, nT)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        pqServeFor(q, codes, icb).orderBy(col("qid"), col("rnk"))
      }),

    // PQ-index COMPACTION — the fold that completes the FOURTH index
    // family's lifecycle (IVF qb6, graph qb5, MinHash qb7, suffix qb8;
    // PQ now has build q5s/q5t, serve q8z, tombstones qc1, and this
    // reset): the incremental chain is stale two ways — the delta
    // generation was ENCODED against the base's codebook (codes stop
    // tracking the corpus distribution as it drifts), and tombstoned
    // codes still occupy file bytes. Compaction derives the LIVE id set
    // from the chain itself (code generations minus the tombstone set),
    // RETRAINS the codebook on exactly that corpus (the live id-prefix
    // seed rule — live ∩ [0, 16), so tombstoned prefix ids are gone,
    // the qb6 seed detail), re-encodes every live vector, and serves
    // q5s's probe from the compacted index. Oracle = q5s's own
    // build+serve replay parameterized by the live corpus, so the hash
    // certifies compact(chain) ≡ build(live) — the qa8/qaj
    // merged-≡-rebuilt pattern, PQ edition. Scale shape: compaction is
    // one corpus pass (explode ×8 + broadcast codebook + map-side
    // argmin — qao's build cost class), runs OFF the serving path, and
    // reclaims the generation files. Spec: `PqCompactionPropSpec`;
    // ScaleProbe mode `pqcompact` measures compact-vs-rebuild.
    QueryDef(
      "qc2_pq_compaction",
      Some(pqAdcOracleSqlFor(
        "(SELECT * FROM embeddings WHERE vec_id % 9 <> 3) le",
        "TRUE", "TRUE")),
      (s, dir) => {
        val e = emb(s, dir)
        val nn = e.count()
        val nBase = nn - nn / 16
        val p = qc2GenPath(dir)
        // gen0: base codebook + codes — the codebook is seeded from the
        // BASE corpus, so it is stale by design once the delta lands
        val sub0 = pqSub(e.filter(col("vec_id") < nBase))
        pqCodebook(sub0).write.mode("overwrite").parquet(s"$p/gen0_cb")
        val cb0 = s.read.parquet(s"$p/gen0_cb")
        pqCodes(sub0, cb0).write.mode("overwrite").parquet(s"$p/gen0_codes")
        // gen1: the delta ENCODED against the persisted stale codebook,
        // appended as its own generation (the q5m update rule, PQ
        // edition)
        pqCodes(pqSub(e.filter(col("vec_id") >= nBase)), cb0)
          .write.mode("overwrite").parquet(s"$p/gen1_codes")
        // gen2: compliance tombstones (q6w's rule)
        e.filter(pmod(col("vec_id"), lit(9)) === 3).select("vec_id")
          .write.mode("overwrite").parquet(s"$p/gen2_tombstones")
        // COMPACT: live ids from the chain itself, codebook RETRAINED
        // on exactly that corpus, every live vector re-encoded —
        // codes track the live distribution again and tombstone bytes
        // are gone
        val members = s.read.parquet(s"$p/gen0_codes").select("vec_id")
          .unionByName(s.read.parquet(s"$p/gen1_codes").select("vec_id"))
        val live = members
          .join(s.read.parquet(s"$p/gen2_tombstones"),
            Seq("vec_id"), "left_anti")
          .distinct()
        val liveE = e.join(live, Seq("vec_id"), "left_semi")
        val subL = pqSub(liveE)
        val cbL = pqCodebook(subL)
        val codesL = pqCodes(subL, cbL)
        val q = liveE.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        pqServeFor(q, codesL, cbL).orderBy(col("qid"), col("rnk"))
      })
  )

  // ------------------------------------------------------------ PQ pieces
  // shared by q5s (pure ADC) and q5t (IVF-PQ): explicit 8-term
  // left-associated chains (reduction order is NOT an engine choice),
  // round-9 intermediates, decimal sum across the one GROUP BY.

  private def chain8(f: (Column, Column) => Column)(a: Column, b: Column): Column =
    (1 to 8).map(i => f(element_at(a, i), element_at(b, i))).reduceLeft(_ + _)

  /** (vec_id, j, svec): 8-dim double subvectors, subspaces j = 0..7. */
  private[graft] def pqSub(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(array((0 to 7).map { j =>
          struct(lit(j).as("j"),
            transform(slice(col("embedding"), j * 8 + 1, 8),
              x => x.cast("double")).as("svec"))
        }: _*)).as("x"))
      .select(col("vec_id"), col("x.j").as("j"), col("x.svec").as("svec"))

  /** (j, code, cvec): 16 codes per subspace from the id-prefix seeds. */
  private[graft] def pqCodebook(sub: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 16)
      .select(col("j"), col("vec_id").as("code"), col("svec").as("cvec"))

  /** (vec_id, j, code): argmin squared-L2 encode, tie → code asc. */
  private[graft] def pqCodes(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.join(broadcast(cb), Seq("j"))
      .withColumn("d2",
        round(chain8((x, y) => (x - y) * (x - y))(col("svec"), col("cvec")), 9))
      .groupBy(col("vec_id"), col("j"))
      .agg(max_by(col("code"),
        struct((-col("d2")).as("nd"), (-col("code")).as("nc"))).as("code"))

  /** (qid, j, code, dq): the per-query ADC lookup table (10×128 rows). */
  private[graft] def pqDotq(sub: DataFrame, cb: DataFrame): DataFrame =
    sub.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("j"), col("svec"))
      .join(broadcast(cb), Seq("j"))
      .withColumn("dq", round(chain8(_ * _)(col("svec"), col("cvec")), 9))
      .select(col("qid"), col("j"), col("code"), col("dq"))

  /** The 8-subspace ADC sum: decimal (reduction-order-proof on round-9
    * inputs), rounded to 4 as the comparable score. */
  private[graft] def pqAdcSum: Column =
    round(sum(col("dq").cast("decimal(30,12)")).cast("double"), 4)

  /** [[pqDotq]] generalized to an arbitrary (qid, qe) query frame — the
    * lookup table a PQ serve builds per arriving query (8 subspaces × 16
    * codes = 128 dq rows per query, from the persisted codebook alone). */
  private[graft] def pqLutFor(q: DataFrame, cb: DataFrame): DataFrame =
    q.select(col("qid"),
        explode(array((0 to 7).map { j =>
          struct(lit(j).as("j"),
            transform(slice(col("qe"), j * 8 + 1, 8),
              x => x.cast("double")).as("svec"))
        }: _*)).as("x"))
      .select(col("qid"), col("x.j").as("j"), col("x.svec").as("svec"))
      .join(broadcast(cb), Seq("j"))
      .withColumn("dq", round(chain8(_ * _)(col("svec"), col("cvec")), 9))
      .select(col("qid"), col("j"), col("code"), col("dq"))

  /** q5s's serve half on an arbitrary query batch against a PERSISTED
    * PQ index (codebook + codes) — what the streaming twin q8z runs per
    * micro-batch: build the batch's lookup tables from the codebook
    * (vector math touches 128 rows per query, nothing corpus-sized),
    * then score every corpus code by TABLE LOOKUP (an equi join on
    * (j, code) against the broadcast LUT — 8 bytes read per candidate,
    * the whole point of PQ) and keep the top-5 per query. */
  private[graft] def pqServeFor(q: DataFrame, codes: DataFrame,
      cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("nid"))
    codes.join(broadcast(pqLutFor(q, cb)), Seq("j", "code"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id").as("nid"))
      .agg(pqAdcSum.as("adc"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("nid"), col("adc"), col("rnk"))
  }

  /** q5s's full replay — codebook from the id-prefix seeds, argmin
    * encode, per-query lookup tables, decimal ADC sum, top-5 — SHARED
    * VERBATIM by q5s (one-shot batch) and q8z (streaming serve from the
    * persisted index): one oracle across both is the machine-checked
    * equivalence claim (the q62/q8q discipline). */
  private[graft] def pqAdcOracleSql: String =
    pqAdcOracleSqlFor("embeddings", "TRUE", "TRUE")

  /** [[pqAdcOracleSql]] PARAMETERIZED — the qb5/qb6 merged-≡-rebuilt
    * oracle pattern carried to the PQ family: `corpus` swaps the scan
    * (qc2 replays the whole build over the LIVE corpus only), `candPred`
    * filters scored candidates (qc1's tombstone anti join re-expressed
    * as the oracle's WHERE) and `qPred` filters the query set (a deleted
    * user gets no serve — the q6w rule). At defaults this IS q5s's
    * oracle, so all four consumers (q5s, q8z, qc1, qc2) share one spec
    * text modulo the staged predicates. */
  private[graft] def pqAdcOracleSqlFor(corpus: String, candPred: String,
      qPred: String): String = {
    def l2 (s: String, c: String) = (1 to 8)
      .map(i => s"($s[$i]-$c[$i])*($s[$i]-$c[$i])").mkString(" + ")
    def dot(s: String, c: String) = (1 to 8)
      .map(i => s"$s[$i]*$c[$i]").mkString(" + ")
    s"""WITH js AS (SELECT unnest(generate_series(0, 7)) AS j),
      sub AS (SELECT vec_id, j,
                list_transform(embedding[j*8+1 : j*8+8], x -> x::DOUBLE) AS svec
              FROM $corpus, js),
      cb AS (SELECT j, vec_id AS code, svec AS cvec
             FROM sub WHERE vec_id < 16),
      d2 AS (SELECT s.vec_id, s.j, cb.code,
               round(${l2("s.svec", "cb.cvec")}, 9) + 0 AS d2
             FROM sub s JOIN cb ON cb.j = s.j),
      codes AS (SELECT vec_id, j, code FROM (
               SELECT vec_id, j, code,
                 row_number() OVER (PARTITION BY vec_id, j
                   ORDER BY d2, code) AS rn FROM d2) WHERE rn = 1),
      dotq AS (SELECT q.vec_id AS qid, cb.j, cb.code,
                 round(${dot("q.svec", "cb.cvec")}, 9) + 0 AS dq
               FROM sub q JOIN cb ON cb.j = q.j
               WHERE q.vec_id < 10 AND $qPred),
      adc AS (SELECT d.qid, c.vec_id AS nid,
                round(CAST(SUM(CAST(d.dq AS DECIMAL(30,12))) AS DOUBLE), 4) + 0 AS adc
              FROM codes c JOIN dotq d ON d.j = c.j AND d.code = c.code
              WHERE c.vec_id <> d.qid AND $candPred GROUP BY 1, 2),
      r AS (SELECT qid, nid, adc,
              row_number() OVER (PARTITION BY qid
                ORDER BY adc DESC, nid) AS rnk FROM adc)
      SELECT qid, nid, CAST(adc AS DOUBLE) AS adc, CAST(rnk AS INT) AS rnk
      FROM r WHERE rnk <= 5 ORDER BY qid, rnk"""
  }
}
