package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** NN-Descent k-NN-graph construction (Dong, Moses & Li 2011, WWW —
  * "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures"): the THIRD ANN index family next to IVF
  * (q66/q5i) and PQ (q5s/q5t) — production vector serving increasingly
  * sits on graph indexes (HNSW descends from this construction). The
  * principle: a neighbor of a neighbor is likely a neighbor — start from
  * a random k-NN guess and iterate local neighbor-of-neighbor joins;
  * each round strictly improves the lists until convergence.
  *
  * Deterministic, oracle-replayable form:
  *   - Init: k pseudo-random candidates per node from the id algebra
  *     nid = (v + ((v·2654435761 + j·40503) mod 1000003) mod (N−1) + 1)
  *     mod N — never self, engine-identical, no RNG state.
  *   - Round: B = forward edges ∪ reverse edges (reverse degree CAPPED
  *     at k by (cos DESC, id) — the paper's reverse sampling, made
  *     deterministic); candidates = one self-join of the symmetrized B
  *     on the shared pivot; union with the current lists; re-top-k by
  *     round-9-quantized cosine with id tiebreak.
  *   - [[Rounds]] rounds unrolled on BOTH engines — the oracle replays
  *     init, every cap, every join, every top-k.
  *
  * Scale shape: per-node work is bounded by the capped degree (≤4k sym
  * edges → ≤(4k)² candidate pairs per node, independent of N); each
  * round is equi joins + two narrow (node, neighbor) shuffles, scored
  * vectors fetched by id join — never an N×N pass (q65, the exact
  * baseline, is the deliberate contrast). Rounds are lineage-cut
  * ([[IterationCheckpoint]]). ScaleProbe's `nndescent` mode measures
  * per-round cost and recall against brute force as the corpus
  * replicates.
  */
object NnDescent {

  /** Internal list width: NN-Descent builds with a wider frontier than
    * it serves (the standard build-L > serve-k rule — a wider frontier
    * is what propagates across a structureless corpus). */
  val K = 10
  /** Served/reported neighbors per node (matches q65's top-5). */
  val ReportK = 5
  /** Neighbor-of-neighbor improvement rounds. */
  val Rounds = 3

  private def topK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("nid"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("vec_id"), col("nid"), col("c"))
  }

  /** The family's report: each node of `graph` — already cut to the
    * reported ids by the caller's filter or semi join — with its served
    * top-[[ReportK]] by (c desc, nid), each edge flagged `in_exact` when
    * `exact` (the brute-force top-k, (qid, nid)) holds it. Output
    * (qid, rnk, nid, cos, in_exact) ordered by (qid, rnk). */
  def reportTopK(graph: DataFrame, exact: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("c").desc, col("nid"))
    val fin = graph.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= ReportK)
    val ex = exact.withColumn("in_exact", lit(1))
    fin.join(ex, fin("vec_id") === ex("qid") && fin("nid") === ex("nid"), "left")
      .select(fin("vec_id").as("qid"), col("rnk"), fin("nid"),
        round(col("c"), 4).as("cos"),
        coalesce(col("in_exact"), lit(0)).cast("int").as("in_exact"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The family's recurring `∪ → dedup-max → per-owner top-k` tail with
    * ONE exchange instead of two (guide §2.4: operations keyed the same
    * way share an exchange): an explicit hash repartition on the OWNER
    * column satisfies both the (owner, nid) dedup aggregate's clustering
    * (owner ⊆ {owner, nid}) and the top-k window's partitioning, so
    * EnsureRequirements inserts no second shuffle. The trade is losing
    * map-side partial aggregation on the dedup — these frames are
    * delta-/degree-bounded (≤(4K)² candidate pairs per node), so the
    * extra shuffled rows are bounded while the removed exchange is a
    * whole stage per call (JobProfile: the fold queries run 1-2-task
    * stages at ~50 ms fixed cost each). AQE still right-sizes the one
    * exchange. */
  private def dedupTopK(pairs: DataFrame): DataFrame =
    topK(pairs.repartition(col("vec_id"))
      .groupBy(col("vec_id"), col("nid")).agg(max(col("c")).as("c")))

  private def score(pairs: DataFrame, e: DataFrame): DataFrame =
    pairs
      .join(e.select(col("vec_id"), col("embedding").as("ve")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
      .select(col("vec_id"), col("nid"),
        round(VectorFunctions.cosine_sim(col("ve"), col("ne")), 9).as("c"))

  /** The full build: returns (vec_id, nid, c) — each node's k-NN list
    * after [[Rounds]] improvement rounds. */
  def knnGraph(e: DataFrame): DataFrame = {
    val n = e.agg(count(lit(1)).as("nn"))
    val init = e.select(col("vec_id"))
      .crossJoin(broadcast(n))
      .select(col("vec_id"), explode(sequence(lit(1), lit(K))).as("j"), col("nn"))
      .select(col("vec_id"),
        pmod(col("vec_id")
            + pmod(pmod(col("vec_id") * 2654435761L + col("j") * 40503L,
              lit(1000003L)), col("nn") - 1) + 1,
          col("nn")).as("nid"))
      // the id algebra may collide two j's onto one nid; partition by
      // the owner so the dedup and the init top-k share one exchange
      .repartition(col("vec_id")).distinct()
    var knn = IterationCheckpoint.cut(topK(score(init, e)))
    for (_ <- 1 to Rounds) {
      val fwd = knn.select(col("vec_id"), col("nid"))
      // reverse edges capped at K per target (deterministic reverse
      // sampling): partition by the NEW owner (the old target)
      val wRev = Window.partitionBy(col("nid")).orderBy(col("c").desc, col("vec_id"))
      val rev = knn.withColumn("rn", row_number().over(wRev))
        .filter(col("rn") <= K)
        .select(col("nid").as("vec_id"), col("vec_id").as("nid"))
      // no intermediate b.distinct(): sym's own distinct subsumes it
      // (distinct over a union is idempotent), deleting one exchange per
      // round; the ≤2x duplicate rows it carries into that exchange are
      // degree-capped
      val b = fwd.unionByName(rev)
      val sym = b.unionByName(
          b.select(col("nid").as("vec_id"), col("vec_id").as("nid")))
        .distinct()
      // neighbor-of-neighbor: one equi self-join on the shared pivot
      // (both sides shuffle by w and are the same subtree — ReusedExchange
      // executes it once); the candidate dedup partitions by the owner so
      // the scoring joins (broadcast e) hand the final dedup+top-k an
      // already-clustered frame
      val cand = sym.select(col("vec_id"), col("nid").as("w"))
        .join(sym.select(col("vec_id").as("w"), col("nid")), Seq("w"))
        .filter(col("vec_id") =!= col("nid"))
        .select(col("vec_id"), col("nid"))
        .repartition(col("vec_id")).distinct()
      knn = IterationCheckpoint.cut(
        dedupTopK(knn.unionByName(score(cand, e))))
    }
    knn
  }

  // --------------------------------------------------------------- oracle

  /** Greedy best-first serve over a PERSISTED k-NN graph — the search
    * half of the graph-ANN lifecycle (the HNSW layer-0 walk, single
    * beam): start every query at a fixed entry node, each hop move to
    * the best of {current} ∪ neighbors(current) by quantized cosine
    * (ties id ASC), [[ServeHops]] hops unrolled. Returns the FULL
    * trajectory (qid, hop, nid, c) — certifying every hop, not just
    * the endpoint. Scale shape: per hop one equi join into the graph
    * (≤K edges per node) + one id join for vectors + one 10-row argmax;
    * the corpus is touched only through probed nodes' id joins. */
  val ServeHops = 6
  val EntryNode = 10L

  def greedyServe(e: DataFrame, g: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val entry = e.filter(col("vec_id") === EntryNode)
      .select(col("embedding").as("ne"))
    var st = q.crossJoin(broadcast(entry))
      .select(col("qid"), col("qe"), lit(EntryNode).as("cur"),
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("curc"))
    val traj = scala.collection.mutable.ArrayBuffer[DataFrame]()
    traj += st.select(col("qid"), lit(0).as("hop"), col("cur"), col("curc"))
    for (h <- 1 to ServeHops) {
      val cand = st
        .join(g.select(col("vec_id").as("cur"), col("nid")), Seq("cur"))
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
          Seq("nid"))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("qe"), col("nid").as("cand"),
          round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
      val unioned = cand.unionByName(
        st.select(col("qid"), col("qe"), col("cur").as("cand"),
          col("curc").as("c")))
      val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("cand"))
      st = IterationCheckpoint.cut(
        unioned.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("qid"), col("qe"), col("cand").as("cur"),
            col("c").as("curc")))
      traj += st.select(col("qid"), lit(h).as("hop"), col("cur"), col("curc"))
    }
    traj.reduce(_ unionByName _)
  }

  /** Beam (ef-search) serve over a PERSISTED k-NN graph — the quality
    * half of HNSW's search story (qaq's single-beam walk is ef=1; real
    * deployments run ef in the tens precisely because a width-1 walk
    * gets stuck on local optima). Deterministic form: the beam starts
    * at the entry node; each hop expands ALL beam nodes' stored edges
    * (≤ [[BeamWidth]]·[[K]] distance evaluations per query per hop),
    * unions the current beam, dedups, and keeps the top-[[BeamWidth]]
    * by (quantized cosine DESC, id ASC). The beam is monotone — it can
    * only improve — so [[BeamHops]] unrolled hops decide it. Returns
    * every hop's FULL beam (qid, hop, rank, nid, c): the oracle
    * certifies each hop's top-B cut, and the final beam's exact-top-5
    * flags measure the recall the extra width buys over qaq (readable
    * side by side — same graph, same queries, same entry). */
  val BeamWidth = 4
  val BeamHops = 4
  /** qb3 seeding: id-algebra random probes per new vector (≈3·K — the
    * build-init coverage rule, see [[insertDelta]]). */
  val InsertProbes = 32

  /** One beam walk over a persisted graph for an arbitrary (qid, qe)
    * query frame: the per-hop beams, hop 0 (entry) through
    * [[BeamHops]]. Shared by the batch trajectory serve (qat) and the
    * streaming per-micro-batch serve (q8y). */
  private def beamHopsOf(q: DataFrame, e: DataFrame,
      g: DataFrame): IndexedSeq[DataFrame] = {
    val entry = e.filter(col("vec_id") === EntryNode)
      .select(col("embedding").as("ne"))
    var beam = q.crossJoin(broadcast(entry))
      .select(col("qid"), lit(EntryNode).as("nid"),
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
    val wB = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    val beams = scala.collection.mutable.ArrayBuffer[DataFrame](beam)
    for (_ <- 1 to BeamHops) {
      val cand = beam
        .join(g.select(col("vec_id").as("nid"), col("nid").as("nn")),
          Seq("nid"))
        .select(col("qid"), col("nn").as("nid")).distinct()
        .filter(col("nid") =!= col("qid"))
        .join(q, Seq("qid"))
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
          Seq("nid"))
        .select(col("qid"), col("nid"),
          round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
      // one exchange for dedup + beam cut: hash by qid satisfies the
      // (qid, nid) dedup clustering AND the window partitioning. The
      // per-hop cut stays — the lazy variant measured strictly slower
      // (see the insertDeltaOf loop's A/B note)
      beam = IterationCheckpoint.cut(
        cand.unionByName(beam)
          .repartition(col("qid"))
          .groupBy(col("qid"), col("nid"))
          .agg(max(col("c")).as("c")) // dedup: same pair scores identically
          .withColumn("rn", row_number().over(wB))
          .filter(col("rn") <= BeamWidth)
          .select(col("qid"), col("nid"), col("c")))
      beams += beam
    }
    beams.toIndexedSeq
  }

  def beamServe(e: DataFrame, g: DataFrame): DataFrame = {
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val wB = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    def ranked(b: DataFrame, hop: Int): DataFrame =
      b.withColumn("rank", row_number().over(wB))
        .select(col("qid"), lit(hop).as("hop"), col("rank"), col("nid"),
          col("c"))
    beamHopsOf(q, e, g).zipWithIndex
      .map { case (b, h) => ranked(b, h) }
      .reduce(_ unionByName _)
  }

  /** q8y: the serve form of [[beamServe]] — an arbitrary query frame
    * (CDC micro-batches), answered from the PERSISTED graph, returning
    * only the FINAL beam ranked (qid, rnk, nid, c). Stateless per
    * batch: the walk touches the corpus only through beam nodes' id
    * joins (≤ BeamWidth·K distance evals per query per hop, independent
    * of N), so a micro-batch of queries costs exactly its own walks —
    * the retrain-never/serve-fast production shape for graph indexes. */
  def beamServeFor(q0: DataFrame, e: DataFrame, g: DataFrame): DataFrame = {
    val q = broadcast(q0.select(col("qid"), col("qe")))
    val wB = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    beamHopsOf(q, e, g).last
      .withColumn("rnk", row_number().over(wB))
      .select(col("qid"), col("rnk"), col("nid"), col("c"))
  }

  /** Hierarchical two-layer serve — the full HNSW shape (Malkov &
    * Yashunin 2016, arXiv:1603.09320): an upper layer holds a sparse
    * deterministic sample of the corpus (vec_id % [[L1Mod]] == 0, the
    * id-algebra stand-in for HNSW's geometric level draw) with its OWN
    * NN-Descent k-NN graph; a query first walks the upper layer from a
    * fixed global entry ([[L1Hops]] hops over ~N/[[L1Mod]] nodes), then
    * uses the endpoint as a per-query entry into the layer-0 walk
    * ([[L0Hops]] hops) — replacing qaq's fixed layer-0 entry with a
    * query-adapted one at the cost of O(L1Hops·K) extra distance evals.
    * Both graphs are built by the SAME (qao-certified) construction —
    * layer 1 on the remapped dense sub-table — and PERSISTED; the serve
    * walks stored edges only. Output: both layers' full trajectories
    * with exact-top-5 flags, directly comparable row-for-row to qaq
    * (same queries) — the hierarchy's value is readable in the
    * artifact. */
  val L1Mod = 8
  val L1Entry = 16L
  val L1Hops = 3
  val L0Hops = 4

  /** Layer-1 node set remapped to dense ids for the build id-algebra,
    * then translated back: (vec_id, nid, c) on ORIGINAL ids. */
  def layer1Graph(e: DataFrame): DataFrame = {
    val e1 = e.filter(pmod(col("vec_id"), lit(L1Mod)) === 0)
      .select(expr(s"vec_id div $L1Mod").as("vec_id"), col("embedding"))
    knnGraph(e1).select((col("vec_id") * L1Mod).as("vec_id"),
      (col("nid") * L1Mod).as("nid"), col("c"))
  }

  /** One greedy hop chain over graph `g` starting from `st` =
    * (qid, qe, cur, curc); returns (finalState, trajectory rows
    * (qid, layer, hop, cur, curc) for hop = 1..hops). */
  private def walk(e: DataFrame, g: DataFrame, st0: DataFrame, hops: Int,
      layer: Int): (DataFrame, Seq[DataFrame]) = {
    var st = st0
    val traj = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (h <- 1 to hops) {
      val cand = st
        .join(g.select(col("vec_id").as("cur"), col("nid")), Seq("cur"))
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")),
          Seq("nid"))
        .filter(col("nid") =!= col("qid"))
        .select(col("qid"), col("qe"), col("nid").as("cand"),
          round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
      val unioned = cand.unionByName(
        st.select(col("qid"), col("qe"), col("cur").as("cand"),
          col("curc").as("c")))
      val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("cand"))
      st = IterationCheckpoint.cut(
        unioned.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("qid"), col("qe"), col("cand").as("cur"),
            col("c").as("curc")))
      traj += st.select(col("qid"), lit(layer).as("layer"), lit(h).as("hop"),
        col("cur"), col("curc"))
    }
    (st, traj.toSeq)
  }

  def hierarchicalServe(e: DataFrame, g1: DataFrame,
      g0: DataFrame): DataFrame = {
    val q = broadcast(e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val entry = e.filter(col("vec_id") === L1Entry)
      .select(col("embedding").as("ne"))
    val st0 = q.crossJoin(broadcast(entry))
      .select(col("qid"), col("qe"), lit(L1Entry).as("cur"),
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("curc"))
    val head = st0.select(col("qid"), lit(1).as("layer"), lit(0).as("hop"),
      col("cur"), col("curc"))
    val (mid, traj1) = walk(e, g1, st0, L1Hops, layer = 1)
    val mid0 = mid.select(col("qid"), lit(0).as("layer"), lit(0).as("hop"),
      col("cur"), col("curc"))
    val (_, traj0) = walk(e, g0, mid, L0Hops, layer = 0)
    (Seq(head) ++ traj1 ++ Seq(mid0) ++ traj0).reduce(_ unionByName _)
  }

  /** Hierarchical-serve oracle over the two persisted graphs: replays
    * the upper-layer walk, the per-query hand-off, every layer-0 hop,
    * and flags all trajectory rows against the exact top-[[ReportK]]. */
  def hierarchicalOracleSql(l1Path: String, l0Path: String): String = {
    def hopCtes(layer: Int, g: String, hops: Int, s0: String): String =
      (1 to hops).map { i =>
        val prev = if (i == 1) s0 else s"s${layer}_${i - 1}"
        s"""c${layer}_$i AS MATERIALIZED (
           |  SELECT s.qid, g.nid AS cand,
           |    round(list_cosine_similarity(q.qe::DOUBLE[],
           |      e.embedding::DOUBLE[]), 9) + 0 AS c
           |  FROM $prev s
           |  JOIN $g g ON g.vec_id = s.cur
           |  JOIN q ON q.qid = s.qid
           |  JOIN embeddings e ON e.vec_id = g.nid
           |  WHERE g.nid <> s.qid),
           |s${layer}_$i AS MATERIALIZED (
           |  SELECT qid, cur, curc FROM (
           |    SELECT qid, cand AS cur, c AS curc,
           |      row_number() OVER (PARTITION BY qid
           |        ORDER BY c DESC, cand) AS rn
           |    FROM (SELECT qid, cand, c FROM c${layer}_$i
           |          UNION ALL SELECT qid, cur AS cand, curc AS c FROM $prev))
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
    val trajSel = (
      (0 to L1Hops).map(h => s"SELECT 1 AS layer, $h AS hop, qid, cur, curc " +
        s"FROM s1_$h") ++
      (0 to L0Hops).map(h => s"SELECT 0 AS layer, $h AS hop, qid, cur, curc " +
        s"FROM s0_$h")).mkString(" UNION ALL ")
    s"""WITH g1 AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$l1Path/*.parquet')),
       |g0 AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$l0Path/*.parquet')),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id < 10),
       |s1_0 AS MATERIALIZED (
       |  SELECT q.qid, CAST($L1Entry AS BIGINT) AS cur,
       |    round(list_cosine_similarity(q.qe::DOUBLE[],
       |      e.embedding::DOUBLE[]), 9) + 0 AS curc
       |  FROM q JOIN embeddings e ON e.vec_id = $L1Entry),
       |${hopCtes(1, "g1", L1Hops, "s1_0")},
       |s0_0 AS MATERIALIZED (SELECT qid, cur, curc FROM s1_$L1Hops),
       |${hopCtes(0, "g0", L0Hops, "s0_0")},
       |exact AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
       |    FROM embeddings qq JOIN embeddings e ON e.vec_id <> qq.vec_id
       |    WHERE qq.vec_id < 10)
       |  WHERE rnk <= $ReportK),
       |traj AS ($trajSel)
       |SELECT t.qid, t.layer, t.hop, t.cur AS nid,
       |  CAST(round(t.curc, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_top5
       |FROM traj t LEFT JOIN exact x ON x.qid = t.qid AND x.nid = t.cur
       |ORDER BY t.qid, t.layer DESC, t.hop""".stripMargin
  }

  /** The shared beam-walk replay CTE chain (g, q, bm0, hops 1..B,
    * exact) — qat's trajectory oracle and q8y's streaming-serve oracle
    * both build on exactly these CTEs, so the two queries make one
    * equivalence claim against one replay. */
  private def beamReplayCtes(graphPath: String): String = {
    val hops = (1 to BeamHops).map { i =>
      val prev = s"bm${i - 1}"
      s"""cd$i AS MATERIALIZED (
         |  SELECT x.qid, x.nid,
         |    round(list_cosine_similarity(q.qe::DOUBLE[],
         |      e.embedding::DOUBLE[]), 9) + 0 AS c
         |  FROM (SELECT DISTINCT b.qid, g.nid FROM $prev b
         |        JOIN g ON g.vec_id = b.nid) x
         |  JOIN q ON q.qid = x.qid
         |  JOIN embeddings e ON e.vec_id = x.nid
         |  WHERE x.nid <> x.qid),
         |bm$i AS MATERIALIZED (
         |  SELECT qid, nid, c FROM (
         |    SELECT qid, nid, c, row_number() OVER (PARTITION BY qid
         |      ORDER BY c DESC, nid) AS rn
         |    FROM (SELECT qid, nid, max(c) AS c FROM (
         |            SELECT qid, nid, c FROM cd$i
         |            UNION ALL SELECT qid, nid, c FROM $prev)
         |          GROUP BY qid, nid))
         |  WHERE rn <= $BeamWidth)""".stripMargin
    }.mkString(",\n")
    s"""g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id < 10),
       |bm0 AS MATERIALIZED (
       |  SELECT q.qid, CAST($EntryNode AS BIGINT) AS nid,
       |    round(list_cosine_similarity(q.qe::DOUBLE[],
       |      e.embedding::DOUBLE[]), 9) + 0 AS c
       |  FROM q JOIN embeddings e ON e.vec_id = $EntryNode),
       |$hops,
       |exact AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
       |    FROM embeddings qq JOIN embeddings e ON e.vec_id <> qq.vec_id
       |    WHERE qq.vec_id < 10)
       |  WHERE rnk <= $ReportK)""".stripMargin
  }

  /** Beam-serve oracle over the same persisted graph: replays the
    * entry, every hop's expand/dedup/top-B cut, and flags every
    * trajectory row against the exact top-[[ReportK]]. */
  def beamServeOracleSql(graphPath: String): String = {
    val trajSel = (0 to BeamHops).map { h =>
      s"""SELECT $h AS hop, qid, nid, c,
         |  row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid) AS rank
         |FROM bm$h""".stripMargin
    }.map(s => s"($s)").mkString(" UNION ALL ")
    s"""WITH ${beamReplayCtes(graphPath)},
       |traj AS ($trajSel)
       |SELECT t.qid, t.hop, CAST(t.rank AS INT) AS rank, t.nid,
       |  CAST(round(t.c, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_top5
       |FROM traj t LEFT JOIN exact x ON x.qid = t.qid AND x.nid = t.nid
       |ORDER BY t.qid, t.hop, t.rank""".stripMargin
  }

  /** q8y oracle: qat's replay CTEs, final beam only — the drained
    * batch-at-a-time streaming serve must be indistinguishable from
    * the batch beam walk's endpoint (same cells, q66's rule). */
  def beamFinalOracleSql(graphPath: String): String =
    s"""WITH ${beamReplayCtes(graphPath)},
       |fin AS (
       |  SELECT qid, nid, c, row_number() OVER (PARTITION BY qid
       |    ORDER BY c DESC, nid) AS rnk
       |  FROM bm$BeamHops)
       |SELECT f.qid, CAST(f.rnk AS INT) AS rnk, f.nid,
       |  CAST(round(f.c, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_top5
       |FROM fin f LEFT JOIN exact x ON x.qid = f.qid AND x.nid = f.nid
       |ORDER BY f.qid, rnk""".stripMargin
  def serveOracleSql(graphPath: String): String = {
    val hops = (1 to ServeHops).map { i =>
      val prev = s"s${i - 1}"
      s"""cand$i AS MATERIALIZED (
         |  SELECT s.qid, g.nid AS cand,
         |    round(list_cosine_similarity(q.qe::DOUBLE[],
         |      e.embedding::DOUBLE[]), 9) + 0 AS c
         |  FROM $prev s
         |  JOIN g ON g.vec_id = s.cur
         |  JOIN q ON q.qid = s.qid
         |  JOIN embeddings e ON e.vec_id = g.nid
         |  WHERE g.nid <> s.qid),
         |s$i AS MATERIALIZED (
         |  SELECT qid, cur, curc FROM (
         |    SELECT qid, cand AS cur, c AS curc,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY c DESC, cand) AS rn
         |    FROM (SELECT qid, cand, c FROM cand$i
         |          UNION ALL SELECT qid, cur AS cand, curc AS c FROM $prev))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val trajSel = (0 to ServeHops)
      .map(h => s"SELECT $h AS hop, qid, cur, curc FROM s$h")
      .mkString(" UNION ALL ")
    s"""WITH g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |q AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id < 10),
       |s0 AS MATERIALIZED (
       |  SELECT q.qid, CAST($EntryNode AS BIGINT) AS cur,
       |    round(list_cosine_similarity(q.qe::DOUBLE[],
       |      e.embedding::DOUBLE[]), 9) + 0 AS curc
       |  FROM q JOIN embeddings e ON e.vec_id = $EntryNode),
       |$hops,
       |exact AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
       |    FROM embeddings qq JOIN embeddings e ON e.vec_id <> qq.vec_id
       |    WHERE qq.vec_id < 10)
       |  WHERE rnk <= $ReportK),
       |traj AS ($trajSel)
       |SELECT t.qid, t.hop, t.cur AS nid,
       |  CAST(round(t.curc, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_top5
       |FROM traj t LEFT JOIN exact x ON x.qid = t.qid AND x.nid = t.cur
       |ORDER BY t.qid, t.hop""".stripMargin
  }

  /** The same build as DuckDB SQL, rounds unrolled by the same
    * [[Rounds]]/[[K]] constants (MATERIALIZED — the self-joins inline
    * exponentially otherwise). Final select: the 10 query nodes' lists
    * with per-edge exact-top-k membership flags (recall@k readable per
    * node as Σ in_exact / k). */
  def oracleSql: String = buildOracleSql("embeddings", "")

  /** qb5 oracle: the SAME unrolled build replay as qao, over the LIVE
    * corpus (tombstone rule excluded) — compaction's whole claim is
    * "folding the generation chain equals a from-scratch rebuild of the
    * live corpus", so its oracle IS the rebuild oracle, parameterized
    * by the corpus. */
  def compactionOracleSql: String = buildOracleSql("le",
    s"""le AS MATERIALIZED (
       |  SELECT * FROM embeddings
       |  WHERE vec_id % $DeleteMod <> $DeleteRes),
       |""".stripMargin)

  private def buildOracleSql(corpus: String, prefixCtes: String): String = {
    def roundCtes(i: Int, prev: String): String =
      s"""rev$i AS MATERIALIZED (
         |  SELECT nid AS vec_id, vec_id AS nid FROM (
         |    SELECT k.*, row_number() OVER (PARTITION BY k.nid
         |      ORDER BY k.c DESC, k.vec_id) AS rn FROM $prev k)
         |  WHERE rn <= $K),
         |b$i AS MATERIALIZED (
         |  SELECT DISTINCT vec_id, nid FROM (
         |    SELECT vec_id, nid FROM $prev
         |    UNION ALL SELECT vec_id, nid FROM rev$i)),
         |sym$i AS MATERIALIZED (
         |  SELECT DISTINCT vec_id, nid FROM (
         |    SELECT vec_id, nid FROM b$i
         |    UNION ALL SELECT nid, vec_id FROM b$i)),
         |cand$i AS MATERIALIZED (
         |  SELECT DISTINCT s1.vec_id, s2.nid
         |  FROM sym$i s1 JOIN sym$i s2 ON s1.nid = s2.vec_id
         |  WHERE s1.vec_id <> s2.nid),
         |sc$i AS MATERIALIZED (
         |  SELECT c2.vec_id, c2.nid,
         |    round(list_cosine_similarity(ev.embedding::DOUBLE[],
         |      eu.embedding::DOUBLE[]), 9) + 0 AS c
         |  FROM cand$i c2
         |  JOIN $corpus ev ON ev.vec_id = c2.vec_id
         |  JOIN $corpus eu ON eu.vec_id = c2.nid),
         |u$i AS MATERIALIZED (
         |  SELECT vec_id, nid, max(c) AS c FROM (
         |    SELECT vec_id, nid, c FROM $prev
         |    UNION ALL SELECT vec_id, nid, c FROM sc$i)
         |  GROUP BY vec_id, nid),
         |k$i AS MATERIALIZED (
         |  SELECT vec_id, nid, c FROM (
         |    SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nid) AS rn FROM u$i)
         |  WHERE rn <= $K)""".stripMargin
    val rounds = (1 to Rounds)
      .map(i => roundCtes(i, if (i == 1) "k0" else s"k${i - 1}"))
      .mkString(",\n")
    s"""WITH ${prefixCtes}n0 AS MATERIALIZED (SELECT COUNT(*) AS nn FROM $corpus),
       |init AS MATERIALIZED (
       |  SELECT DISTINCT e.vec_id,
       |    (e.vec_id + ((e.vec_id * 2654435761 + j.j * 40503) % 1000003)
       |      % (n0.nn - 1) + 1) % n0.nn AS nid
       |  FROM $corpus e, n0,
       |    (SELECT unnest(generate_series(1, $K)) AS j) j),
       |sc0 AS MATERIALIZED (
       |  SELECT i.vec_id, i.nid,
       |    round(list_cosine_similarity(ev.embedding::DOUBLE[],
       |      eu.embedding::DOUBLE[]), 9) + 0 AS c
       |  FROM init i
       |  JOIN $corpus ev ON ev.vec_id = i.vec_id
       |  JOIN $corpus eu ON eu.vec_id = i.nid),
       |k0 AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM (
       |    SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, nid) AS rn FROM sc0)
       |  WHERE rn <= $K),
       |$rounds,
       |exact AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT q.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
       |    FROM $corpus q JOIN $corpus e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10)
       |  WHERE rnk <= $ReportK),
       |fin AS (
       |  SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY c DESC, nid) AS rnk
       |  FROM k$Rounds WHERE vec_id < 10)
       |SELECT f.vec_id AS qid, CAST(f.rnk AS INT) AS rnk, f.nid,
       |  CAST(round(f.c, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_exact
       |FROM fin f LEFT JOIN exact x ON x.qid = f.vec_id AND x.nid = f.nid
       |WHERE f.rnk <= $ReportK
       |ORDER BY qid, rnk""".stripMargin
  }

  // ------------------------------------------------------ incremental add

  /** qb3: incremental graph maintenance — the insert path the family was
    * missing (IVF got q5m, MinHash got qa8, stats got qaj). A delta
    * batch (the top nn/16 ids — the "newest" vectors) joins a PERSISTED
    * base graph without a rebuild:
    *
    *   1. SEED: each new vector scores [[InsertProbes]] pseudo-random
    *      base vectors (the build's own id-algebra init, mod nBase —
    *      a bare k-NN graph is NOT navigable across clusters, so a
    *      beam alone can never leave the entry's cluster; random
    *      probes restore NN-Descent's cluster-coverage property) and
    *      beam-searches the base graph from the fixed entry
    *      ([[BeamWidth]]/[[BeamHops]], the qat machinery). Its forward
    *      list is the top-[[K]] of the whole candidate POOL scored
    *      (not just the surviving beam: dropped candidates are exactly
    *      the near-misses an initial list wants).
    *   2. BACK-EDGES: every seeded edge (v → u) is offered back to u,
    *      whose list re-top-Ks — only TOUCHED base nodes recompute
    *      (semi/anti split), the rest of the graph is untouched bytes.
    *   3. One LOCAL NN-Descent refinement round over the new nodes only:
    *      candidates via the merged lists of their forward targets
    *      (neighbor-of-neighbor) plus new-new pairs through a shared,
    *      degree-capped base pivot — the Dong et al. round restricted
    *      to the insertion neighborhood.
    *
    * Per-new-node work is O(BeamHops·BeamWidth·K + K²) distance evals,
    * independent of N and of delta size; base-side work touches only
    * nodes a new edge lands on. At 100 TB this is the shape that admits
    * a continuous ingest: the base graph is a parquet table, deltas
    * arrive in batches, and a rebuild is never on the serving path.
    * `GraphInsertPropSpec` proves recall parity with a full rebuild;
    * ScaleProbe's `graphinsert` mode measures flat-in-delta cost. */
  def insertDelta(e: DataFrame, g0: DataFrame, nBase: Long): DataFrame =
    insertDeltaOf(e, g0, nBase, e.filter(col("vec_id") >= nBase))

  /** [[insertDelta]] with an EXPLICIT delta frame — the per-micro-batch
    * form qc8's streaming maintenance folds with (each batch inserts
    * only its own vectors against the PREVIOUS generation's graph; the
    * id-algebra probes still target the original [0, nBase) base id
    * space, which spans every cluster by construction regardless of
    * how many generations the graph has absorbed). `deltaE` must carry
    * (vec_id, embedding); rows already in `g0` are the caller's
    * contract to exclude. */
  def insertDeltaOf(e: DataFrame, g0: DataFrame, nBase: Long,
      deltaE: DataFrame): DataFrame =
    insertDeltaOf(e, g0, nBase, deltaE, None)

  /** [[insertDeltaOf]] with TOMBSTONE-AWARE probes — the form a mixed
    * insert/delete CDC stream needs (qd4): the id-algebra probes target
    * the raw [0, nBase) id space, and on a graph that has absorbed
    * deletes a probed-and-scored TOMBSTONED id would re-enter fresh
    * nodes' forward lists (every other candidate source is already
    * clean: beam candidates walk the repaired graph's stored edges,
    * back-edges target live list owners, refinement candidates come
    * from repaired lists). `tomb` anti-joins the probe set; the beam
    * walk, scoring and merge are unchanged. */
  def insertDeltaOf(e: DataFrame, g0: DataFrame, nBase: Long,
      deltaE: DataFrame, tomb: Option[DataFrame]): DataFrame =
    insertDeltaOf(e, g0, nBase, deltaE, tomb, None)

  /** [[insertDeltaOf]] with a caller-known tombstone cardinality —
    * saves [[Tombstones]]' fallback `count()` action per fold when the
    * caller already tracks the running tombstone count (qd4 folds this
    * per micro-batch, including insert-only batches where the set is
    * known-empty). */
  def insertDeltaOf(e: DataFrame, g0: DataFrame, nBase: Long,
      deltaE: DataFrame, tomb: Option[DataFrame],
      tombCount: Option[Long]): DataFrame = {
    val q = deltaE
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val entry = e.filter(col("vec_id") === EntryNode)
      .select(col("embedding").as("ne"))
    val wB = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("nid"))
    val entryCand = q.crossJoin(broadcast(entry))
      .select(col("qid"), lit(EntryNode).as("nid"),
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
    // id-algebra random probes (the build's init, mod nBase): cluster
    // coverage a beam over a non-navigable k-NN graph cannot provide
    val probes0 = q.select(col("qid"),
        explode(sequence(lit(1), lit(InsertProbes))).as("j"))
      .select(col("qid"),
        pmod(pmod(col("qid") * 2654435761L + col("j") * 40503L,
          lit(1000003L)), lit(nBase)).as("nid"))
      .distinct()
    val probes = tomb.fold(probes0)(t => Tombstones.antiJoin(probes0,
        "nid", t.select(col(t.columns.head).as("nid")), tombCount))
      .join(q, Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
      .select(col("qid"), col("nid"),
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
    var pool = entryCand.unionByName(probes)
      // hash by qid once: the dedup aggregate, every per-hop beam window
      // and the final fwd window all ride this one exchange per cut
      .repartition(col("qid"))
      .groupBy(col("qid"), col("nid")).agg(max(col("c")).as("c"))
    var beam = pool.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= BeamWidth)
      .select(col("qid"), col("nid"), col("c"))
    for (_ <- 1 to BeamHops) {
      val cand = beam
        .join(g0.select(col("vec_id").as("nid"), col("nid").as("nn2")), Seq("nid"))
        .select(col("qid"), col("nn2").as("nid")).distinct()
        .filter(col("nid") =!= col("qid"))
        .join(q, Seq("qid"))
        .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
        .select(col("qid"), col("nid"),
          round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
      // per-hop cut stays: an A/B of the lazy form (cut only after the
      // loop, leaning on ReuseExchange for pool's two references) measured
      // qc8 12.4 → 18.6 s and qb3 9.4 → 12.3 s — the duplicated-subtree
      // planning/recompute costs MORE than the saved per-hop actions
      pool = IterationCheckpoint.cut(
        pool.unionByName(cand)
          .repartition(col("qid"))
          .groupBy(col("qid"), col("nid")).agg(max(col("c")).as("c")))
      beam = pool.withColumn("rn", row_number().over(wB))
        .filter(col("rn") <= BeamWidth)
        .select(col("qid"), col("nid"), col("c"))
    }
    val fwd = pool.withColumn("rn", row_number().over(wB))
      .filter(col("rn") <= K)
      .select(col("qid").as("vec_id"), col("nid"), col("c"))
    // back-edges: only touched base nodes re-top-K
    val back = fwd.select(col("nid").as("vec_id"), col("vec_id").as("nid"),
      col("c"))
    val touched = back.select(col("vec_id")).distinct()
    val mergedTouched = dedupTopK(
      g0.join(touched, Seq("vec_id"), "left_semi").unionByName(back))
    val mergedBase = g0.join(touched, Seq("vec_id"), "left_anti")
      .unionByName(mergedTouched)
    // one local refinement round over the new nodes
    val viaBase = fwd.select(col("vec_id").as("qid"), col("nid").as("w"))
      .join(mergedBase.select(col("vec_id").as("w"), col("nid")), Seq("w"))
      .select(col("qid"), col("nid"))
    val wPiv = Window.partitionBy(col("w")).orderBy(col("c").desc, col("qid"))
    val capped = fwd
      .select(col("vec_id").as("qid"), col("nid").as("w"), col("c"))
      .withColumn("rn", row_number().over(wPiv))
      .filter(col("rn") <= K)
      .select(col("qid"), col("w"))
    val newNew = capped
      .join(capped.select(col("qid").as("nid"), col("w")), Seq("w"))
      .select(col("qid"), col("nid"))
    val refCand = viaBase.unionByName(newNew)
      .filter(col("nid") =!= col("qid")).distinct()
      .join(q, Seq("qid"))
      .join(e.select(col("vec_id").as("nid"), col("embedding").as("ne")), Seq("nid"))
      .select(col("qid").as("vec_id"), col("nid"),
        round(VectorFunctions.cosine_sim(col("qe"), col("ne")), 9).as("c"))
    val refined = dedupTopK(fwd.unionByName(refCand))
    mergedBase.unionByName(refined)
  }

  /** One insert GENERATION's full CTE chain, name-prefixed `p`: delta
    * selection, seed beams (pool semantics), forward top-K, back-edge
    * re-top-K on touched nodes, the local refinement round, and the
    * generation's OUTPUT graph (`${p}graph` = merged base ∪ refined new
    * lists — [[insertDelta]]'s return frame). `gSrc` names the CTE
    * holding the graph this generation inserts INTO; `deltaPred`
    * selects this generation's slice of the delta id space. Shared by
    * qb3's one-generation oracle (empty prefix, whole delta) and qc8's
    * two-generation unroll — sequential insert folds are NOT
    * union-equivalent (back-edges re-top-K lists the next generation
    * then walks), so the honest spec replays each generation against
    * the previous generation's SQL-derived output. */
  private def insertGenCtes(p: String, gSrc: String,
      deltaPred: String): String =
    insertGenCtes(p, gSrc, deltaPred, "TRUE")

  /** [[insertGenCtes]] with a live-probe predicate on the probe target
    * id (qd4's tombstone-aware probes — the SQL twin of
    * [[insertDeltaOf]]'s `tomb` filter; "TRUE" = the qb3/qc8 form). */
  private def insertGenCtes(p: String, gSrc: String,
      deltaPred: String, probeLive: String): String = {
    val hops = (1 to BeamHops).map { i =>
      val prev = s"${p}p${i - 1}"
      s"""${p}bm$i AS MATERIALIZED (
         |  SELECT qid, nid, c FROM (
         |    SELECT qid, nid, c, row_number() OVER (PARTITION BY qid
         |      ORDER BY c DESC, nid) AS rn FROM $prev)
         |  WHERE rn <= $BeamWidth),
         |${p}cd$i AS MATERIALIZED (
         |  SELECT d.qid, d.nid,
         |    round(list_cosine_similarity(q.qe::DOUBLE[],
         |      e.embedding::DOUBLE[]), 9) + 0 AS c
         |  FROM (SELECT DISTINCT b.qid, g.nid
         |        FROM ${p}bm$i b JOIN $gSrc g ON g.vec_id = b.nid
         |        WHERE g.nid <> b.qid) d
         |  JOIN ${p}q q ON q.qid = d.qid
         |  JOIN embeddings e ON e.vec_id = d.nid),
         |${p}p$i AS MATERIALIZED (
         |  SELECT qid, nid, max(c) AS c FROM (
         |    SELECT qid, nid, c FROM $prev
         |    UNION ALL SELECT qid, nid, c FROM ${p}cd$i)
         |  GROUP BY qid, nid)""".stripMargin
    }.mkString(",\n")
    s"""${p}q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings, nb
       |  WHERE vec_id >= nb.nb AND ($deltaPred)),
       |${p}pr AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT DISTINCT q.qid,
       |      ((q.qid * 2654435761 + j.j * 40503) % 1000003)
       |        % (SELECT nb FROM nb) AS nid
       |    FROM ${p}q q,
       |      (SELECT unnest(generate_series(1, $InsertProbes)) AS j) j)
       |  WHERE ($probeLive)),
       |${p}p0 AS MATERIALIZED (
       |  SELECT qid, nid, max(c) AS c FROM (
       |    SELECT q.qid, CAST($EntryNode AS BIGINT) AS nid,
       |      round(list_cosine_similarity(q.qe::DOUBLE[],
       |        e.embedding::DOUBLE[]), 9) + 0 AS c
       |    FROM ${p}q q JOIN embeddings e ON e.vec_id = $EntryNode
       |    UNION ALL
       |    SELECT pr.qid, pr.nid,
       |      round(list_cosine_similarity(q.qe::DOUBLE[],
       |        e.embedding::DOUBLE[]), 9) + 0 AS c
       |    FROM ${p}pr pr JOIN ${p}q q ON q.qid = pr.qid
       |    JOIN embeddings e ON e.vec_id = pr.nid)
       |  GROUP BY qid, nid),
       |$hops,
       |${p}fwd AS MATERIALIZED (
       |  SELECT qid AS vec_id, nid, c FROM (
       |    SELECT qid, nid, c, row_number() OVER (PARTITION BY qid
       |      ORDER BY c DESC, nid) AS rn FROM ${p}p$BeamHops)
       |  WHERE rn <= $K),
       |${p}bk AS MATERIALIZED (
       |  SELECT nid AS vec_id, vec_id AS nid, c FROM ${p}fwd),
       |${p}tch AS MATERIALIZED (SELECT DISTINCT vec_id FROM ${p}bk),
       |${p}mb AS MATERIALIZED (
       |  SELECT g.vec_id, g.nid, g.c FROM $gSrc g
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}tch t WHERE t.vec_id = g.vec_id)
       |  UNION ALL
       |  SELECT vec_id, nid, c FROM (
       |    SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, nid) AS rn
       |    FROM (SELECT vec_id, nid, max(c) AS c FROM (
       |            SELECT g.vec_id, g.nid, g.c FROM $gSrc g
       |            JOIN ${p}tch t ON t.vec_id = g.vec_id
       |            UNION ALL SELECT vec_id, nid, c FROM ${p}bk)
       |          GROUP BY vec_id, nid))
       |  WHERE rn <= $K),
       |${p}vb AS MATERIALIZED (
       |  SELECT f.vec_id AS qid, m.nid
       |  FROM ${p}fwd f JOIN ${p}mb m ON m.vec_id = f.nid),
       |${p}cap AS MATERIALIZED (
       |  SELECT qid, w FROM (
       |    SELECT vec_id AS qid, nid AS w, c, row_number() OVER (
       |      PARTITION BY nid ORDER BY c DESC, vec_id) AS rn FROM ${p}fwd)
       |  WHERE rn <= $K),
       |${p}nn2 AS MATERIALIZED (
       |  SELECT a.qid, b.qid AS nid FROM ${p}cap a JOIN ${p}cap b ON a.w = b.w),
       |${p}rc AS MATERIALIZED (
       |  SELECT DISTINCT qid, nid FROM (
       |    SELECT qid, nid FROM ${p}vb UNION ALL SELECT qid, nid FROM ${p}nn2)
       |  WHERE nid <> qid),
       |${p}sc AS MATERIALIZED (
       |  SELECT rc.qid AS vec_id, rc.nid,
       |    round(list_cosine_similarity(q.qe::DOUBLE[],
       |      e.embedding::DOUBLE[]), 9) + 0 AS c
       |  FROM ${p}rc rc JOIN ${p}q q ON q.qid = rc.qid
       |  JOIN embeddings e ON e.vec_id = rc.nid),
       |${p}rf AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM (
       |    SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, nid) AS rn
       |    FROM (SELECT vec_id, nid, max(c) AS c FROM (
       |            SELECT vec_id, nid, c FROM ${p}fwd
       |            UNION ALL SELECT vec_id, nid, c FROM ${p}sc)
       |          GROUP BY vec_id, nid))
       |  WHERE rn <= $K),
       |${p}graph AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM ${p}mb
       |  UNION ALL SELECT vec_id, nid, c FROM ${p}rf)""".stripMargin
  }

  /** The sampled exact-flag probe + reporting tail shared by qb3 and
    * qc8: brute top-[[ReportK]] over the full corpus for SAMPLED new
    * nodes, left-joined onto the served rows of `finSrc`. */
  private def insertReportSql(finSrc: String): String =
    s"""exact AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
       |    FROM embeddings qq
       |    JOIN embeddings e ON e.vec_id <> qq.vec_id
       |    WHERE qq.vec_id >= (SELECT nb FROM nb)
       |      AND qq.vec_id % $FlagSampleMod = 0)
       |  WHERE rnk <= $ReportK),
       |fin AS (
       |  SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY c DESC, nid) AS rnk
       |  FROM $finSrc)
       |SELECT f.vec_id AS qid, CAST(f.rnk AS INT) AS rnk, f.nid,
       |  CAST(round(f.c, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_exact
       |FROM fin f LEFT JOIN exact x ON x.qid = f.vec_id AND x.nid = f.nid
       |WHERE f.rnk <= $ReportK AND f.vec_id % $FlagSampleMod = 0
       |ORDER BY qid, rnk""".stripMargin

  /** The qb3 oracle: replays the whole insert — seed beams (pool
    * semantics), back-edge re-top-K on touched nodes, the local
    * refinement round — against the PERSISTED base graph, then emits
    * every SAMPLED new node's served top-[[ReportK]] with exact-top-k
    * flags over the FULL corpus. */
  def insertOracleSql(graphPath: String): String =
    s"""WITH nb AS MATERIALIZED (
       |  SELECT CAST(nn - nn // 16 AS BIGINT) AS nb
       |  FROM (SELECT COUNT(*) AS nn FROM embeddings)),
       |g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |""".stripMargin +
      insertGenCtes("", "g", "TRUE") + ",\n" +
      insertReportSql("rf")

  /** The qc8 oracle: TWO insert generations unrolled — gen 1 folds the
    * even half of the delta into the persisted base graph, gen 2 folds
    * the odd half into gen 1's OUTPUT graph, which is DERIVED IN SQL
    * (g1graph), never read back from the pipeline's persisted
    * generation — so a wrong batch-1 fold cannot hide behind
    * persistence. The final measure reports every SAMPLED new node's
    * top-[[ReportK]] from the FINAL graph: gen-1 nodes' lists may have
    * been re-top-K'd by gen 2's back-edges, and reading them from
    * g2graph is exactly what certifies that second-generation
    * interaction. */
  def streamInsertOracleSql(graphPath: String): String =
    s"""WITH nb AS MATERIALIZED (
       |  SELECT CAST(nn - nn // 16 AS BIGINT) AS nb
       |  FROM (SELECT COUNT(*) AS nn FROM embeddings)),
       |g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |""".stripMargin +
      insertGenCtes("g1", "g", "vec_id % 2 = 0") + ",\n" +
      insertGenCtes("g2", "g1graph", "vec_id % 2 = 1") + ",\n" +
      s"""newg AS MATERIALIZED (
         |  SELECT gg.vec_id, gg.nid, gg.c FROM g2graph gg, nb
         |  WHERE gg.vec_id >= nb.nb),
         |""".stripMargin +
      insertReportSql("newg")

  // ---------------------------------------------------------------- delete

  /** qb4's tombstone rule: vec_id % [[DeleteMod]] == [[DeleteRes]]
    * (the q6w idiom — IVF uses % 9 == 3). */
  val DeleteMod = 16L
  val DeleteRes = 3L

  /** qb3/qb4's exact-recall EVIDENCE flags are O(probed · N) brute
    * probes — pure measurement, not part of the insert/repair work
    * (which stays N-independent). The probe samples the reported node
    * set by id (the qau SampleMod idiom): only nodes with
    * vec_id % [[FlagSampleMod]] == 0 are reported and flagged, so the
    * probe cost scales with sampled nodes while the maintenance itself
    * still runs for EVERY node. Both engines sample by the same rule.
    * The honest scope of the resulting certificate: sampled nodes'
    * lists are verified rank-for-rank and score-for-score; non-sampled
    * nodes' lists are EXERCISED by the fold but not directly verified —
    * they reach the hash only through the edges they contribute to
    * sampled nodes' merges (back-edges, repair candidates). Full-graph
    * verification is the prop specs' job:
    * `GraphInsertPropSpec`/`GraphDeletePropSpec` check ALL
    * inserted/touched nodes' recall and assert untouched lists
    * byte-identical at spec scale. */
  val FlagSampleMod = 4L

  /** qb4: delete with LOCAL repair — the remove path completing the
    * graph lifecycle (IVF has q6w tombstones, MinHash has qaa
    * serve-under-deletes). Dropping a node's list is trivial; the real
    * work is the HOLES it leaves in surviving lists. The FreshDiskANN
    * repair rule (Singh et al. 2021, arXiv:2105.09613 §4.2): a
    * survivor u that lost edge u→d considers d's former out-neighbors
    * as replacement candidates — d was close to u, so d's neighbors
    * are the best local patch, no global search needed. Shape: the
    * affected set comes from one semi join (edges INTO the tombstone
    * set); repair candidates are one equi join of u→d edges against
    * d's stored list (≤K·K per affected node, independent of N);
    * untouched lists — the overwhelming majority — are untouched
    * bytes through the semi/anti split. */
  def deleteRepair(e: DataFrame, g0: DataFrame): DataFrame =
    deleteRepair(e, g0, DeleteMod, DeleteRes)

  /** [[deleteRepair]] with an EXPLICIT tombstone id frame — the
    * per-micro-batch fold qd1's streaming maintenance runs (each CDC
    * delete batch repairs only its own tombstones' holes against the
    * previous generation's graph; sequential folds are NOT equivalent
    * to one big fold — gen 1 may patch with a node gen 2 then deletes
    * and re-repairs, which is exactly what the two-generation oracle
    * unroll certifies). Same FreshDiskANN rule as the predicate form:
    * affected set from one semi join, candidates from the dead nodes'
    * former out-lists, untouched lists pass through as untouched
    * bytes. `tomb` is one id column, ≪ graph by contract (routed
    * through [[Tombstones]] — broadcast to the cap, shuffle-hash
    * sharded past it). */
  def deleteRepairOf(e: DataFrame, g0: DataFrame,
      tomb: DataFrame): DataFrame = deleteRepairOf(e, g0, tomb, None)

  /** [[deleteRepairOf]] with a caller-known tombstone cardinality —
    * one shared count across all five [[Tombstones]] joins either way;
    * passing it saves the count action entirely (qd4's insert-only
    * batches repair against a known-empty frame). */
  def deleteRepairOf(e: DataFrame, g0: DataFrame,
      tomb: DataFrame, tombCount: Option[Long]): DataFrame = {
    import graft.operators.Tombstones
    val t = tomb.select(col(tomb.columns.head).as("vec_id"))
    val nT = Some(tombCount.getOrElse(t.count()))
    val tn = t.select(col("vec_id").as("nid"))
    val survivors = Tombstones.antiJoin(g0, "vec_id", t, nT)
    val cleaned = Tombstones.antiJoin(survivors, "nid", tn, nT)
    val lostEdges = Tombstones.semiJoin(survivors, "nid", tn, nT)
      .select(col("vec_id"), col("nid").as("d"))
    val touched = lostEdges.select(col("vec_id")).distinct()
    // d's former out-list, minus other tombstones and u itself
    val deadLists = Tombstones.antiJoin(
      Tombstones.semiJoin(g0, "vec_id", t, nT)
        .select(col("vec_id").as("d"), col("nid").as("w")),
      "w", t.select(col("vec_id").as("w")), nT)
    val cand = lostEdges.join(deadLists, Seq("d"))
      .filter(col("w") =!= col("vec_id"))
      .select(col("vec_id"), col("w").as("nid"))
      .distinct()
    val repaired = dedupTopK(
      cleaned.join(touched, Seq("vec_id"), "left_semi")
        .unionByName(score(cand, e)))
    cleaned.join(touched, Seq("vec_id"), "left_anti").unionByName(repaired)
  }

  /** [[deleteRepair]] with an explicit tombstone rule — ScaleProbe's
    * `graphdelete` mode uses `mod = 16·mult` to hold the tombstone SET
    * fixed while the corpus replicates (the fixed-delta twin of
    * `graphinsert`). */
  def deleteRepair(e: DataFrame, g0: DataFrame, deleteMod: Long,
      deleteRes: Long): DataFrame = {
    def dead(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      pmod(c, lit(deleteMod)) === deleteRes
    val survivors = g0.filter(!dead(col("vec_id")))
    val cleaned = survivors.filter(!dead(col("nid")))
    val lostEdges = survivors.filter(dead(col("nid")))
      .select(col("vec_id"), col("nid").as("d"))
    val touched = lostEdges.select(col("vec_id")).distinct()
    // d's former out-list, minus other tombstones and u itself
    val cand = lostEdges
      .join(g0.filter(dead(col("vec_id")))
          .select(col("vec_id").as("d"), col("nid").as("w"))
          .filter(!dead(col("w"))), Seq("d"))
      .filter(col("w") =!= col("vec_id"))
      .select(col("vec_id"), col("w").as("nid"))
      .distinct()
    val repaired = dedupTopK(
      cleaned.join(touched, Seq("vec_id"), "left_semi")
        .unionByName(score(cand, e)))
    cleaned.join(touched, Seq("vec_id"), "left_anti").unionByName(repaired)
  }

  /** qb5: compaction — fold the generation chain (base build, insert
    * merges, tombstone repairs) back into ONE rebuilt-equivalent graph.
    * Incremental maintenance is the fast path (qb3 insert is
    * N-independent, qb4 repair is local), but it drifts: insert recall
    * ~0.92 vs build 1.0, repair candidates are local patches, and the
    * physical chain accretes a file generation per maintenance batch.
    * Compaction is the reset: derive the LIVE id set from the chain
    * itself (every live node owns a list — tombstoned nodes own none
    * after [[deleteRepair]]) and re-run the deterministic [[knnGraph]]
    * construction on exactly that corpus. The claim "compact(chain) ≡
    * rebuild(live)" is the qa8/qaj merged-≡-rebuilt pattern, graph
    * edition — certified by [[compactionOracleSql]] (qao's unrolled
    * build replay over the live corpus). Scale shape: the rebuild runs
    * OFF the serving path at a chosen cadence; its cost is qao's
    * (capped-degree rounds, no N² term), and it reclaims the
    * generation files the incremental path accreted. */
  def compact(e: DataFrame, chain: DataFrame): DataFrame =
    knnGraph(e.join(chain.select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_semi"))

  /** [[compact]] through the [[GenerationChain]] claim fence — the form
    * an OUT-OF-BAND compactor must use when a live maintenance fold may
    * be writing the same chain (round-15 verdict #4: two writers that
    * both read head v and write v+1 silently orphan one result). Claims
    * the next slot, compacts the committed head it claimed against,
    * publishes, commits; a racing fold that lost the claim folds against
    * THIS compacted generation instead (linearized —
    * `GenerationFenceSpec` replays the committed order serially and
    * matches bit-for-bit). Returns the committed slot. The same contract
    * applies verbatim to the other families' chains (IVF memberships +
    * tombstone generations, PQ code generations, MinHash/suffix index
    * and dictionary generations — the streaming folds' layout is
    * [[graft.streaming.StreamPipelines.Generations]]): one full-state
    * generation per slot, claim
    * before derive, commit after publish — see SURVEY §2.12's fence row. */
  def compactFenced(s: org.apache.spark.sql.SparkSession, e: DataFrame,
      root: String): Int = {
    val (slot, basis) = GenerationChain.claimNext(root)
    require(basis >= 0,
      s"GenerationChain at $root is empty — nothing to compact")
    compact(e, s.read.parquet(GenerationChain.genPath(root, basis)))
      .write.mode("overwrite").parquet(GenerationChain.genPath(root, slot))
    GenerationChain.commit(root, slot)
    slot
  }

  /** qb4 oracle: replays the tombstone drop, the affected-set semi
    * join, the d's-former-list repair candidates, and the touched
    * re-top-K against the same persisted graph; emits every REPAIRED
    * node's served top-[[ReportK]] with exact flags over the
    * SURVIVING corpus. */
  def deleteOracleSql(graphPath: String): String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |sur AS MATERIALIZED (
       |  SELECT * FROM g WHERE vec_id % $DeleteMod <> $DeleteRes),
       |cln AS MATERIALIZED (
       |  SELECT * FROM sur WHERE nid % $DeleteMod <> $DeleteRes),
       |td AS MATERIALIZED (
       |  SELECT vec_id, nid AS d FROM sur
       |  WHERE nid % $DeleteMod = $DeleteRes),
       |tch AS MATERIALIZED (SELECT DISTINCT vec_id FROM td),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT t.vec_id, gd.nid
       |  FROM td t JOIN g gd ON gd.vec_id = t.d
       |  WHERE gd.nid % $DeleteMod <> $DeleteRes AND gd.nid <> t.vec_id),
       |sc AS MATERIALIZED (
       |  SELECT c2.vec_id, c2.nid,
       |    round(list_cosine_similarity(ev.embedding::DOUBLE[],
       |      eu.embedding::DOUBLE[]), 9) + 0 AS c
       |  FROM cand c2
       |  JOIN embeddings ev ON ev.vec_id = c2.vec_id
       |  JOIN embeddings eu ON eu.vec_id = c2.nid),
       |rep AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM (
       |    SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, nid) AS rn
       |    FROM (SELECT vec_id, nid, max(c) AS c FROM (
       |            SELECT c3.vec_id, c3.nid, c3.c FROM cln c3
       |            JOIN tch t ON t.vec_id = c3.vec_id
       |            UNION ALL SELECT vec_id, nid, c FROM sc)
       |          GROUP BY vec_id, nid))
       |  WHERE rn <= $K),
       |exact AS MATERIALIZED (
       |  SELECT qid, nid FROM (
       |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
       |      row_number() OVER (PARTITION BY qq.vec_id
       |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
       |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
       |    FROM embeddings qq
       |    JOIN tch t ON t.vec_id = qq.vec_id
       |    JOIN embeddings e ON e.vec_id <> qq.vec_id
       |      AND e.vec_id % $DeleteMod <> $DeleteRes
       |    WHERE qq.vec_id % $FlagSampleMod = 0)
       |  WHERE rnk <= $ReportK),
       |fin AS (
       |  SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY c DESC, nid) AS rnk
       |  FROM rep)
       |SELECT f.vec_id AS qid, CAST(f.rnk AS INT) AS rnk, f.nid,
       |  CAST(round(f.c, 4) + 0 AS DOUBLE) AS cos,
       |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_exact
       |FROM fin f LEFT JOIN exact x ON x.qid = f.vec_id AND x.nid = f.nid
       |WHERE f.rnk <= $ReportK AND f.vec_id % $FlagSampleMod = 0
       |ORDER BY qid, rnk""".stripMargin

  /** One delete GENERATION's full CTE chain, name-prefixed `p` (the
    * [[insertGenCtes]] pattern, delete edition): survivors, cleaned
    * lists, lost edges, the FreshDiskANN repair candidates from the dead
    * nodes' former out-lists IN THIS GENERATION'S INPUT GRAPH, the
    * touched re-top-K, and the generation's OUTPUT graph (`${p}graph` =
    * untouched cleaned lists ∪ repaired lists — [[deleteRepairOf]]'s
    * return frame). `gSrc` names the CTE holding the graph this
    * generation deletes FROM; `dead` renders the generation's tombstone
    * rule on a column. */
  private def deleteGenCtes(p: String, gSrc: String,
      dead: String => String): String =
    s"""${p}sur AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM $gSrc WHERE NOT (${dead("vec_id")})),
       |${p}cln AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM ${p}sur WHERE NOT (${dead("nid")})),
       |${p}td AS MATERIALIZED (
       |  SELECT vec_id, nid AS d FROM ${p}sur WHERE ${dead("nid")}),
       |${p}tch AS MATERIALIZED (SELECT DISTINCT vec_id FROM ${p}td),
       |${p}cand AS MATERIALIZED (
       |  SELECT DISTINCT t.vec_id, gd.nid
       |  FROM ${p}td t JOIN $gSrc gd ON gd.vec_id = t.d
       |  WHERE NOT (${dead("gd.nid")}) AND gd.nid <> t.vec_id),
       |${p}sc AS MATERIALIZED (
       |  SELECT c2.vec_id, c2.nid,
       |    round(list_cosine_similarity(ev.embedding::DOUBLE[],
       |      eu.embedding::DOUBLE[]), 9) + 0 AS c
       |  FROM ${p}cand c2
       |  JOIN embeddings ev ON ev.vec_id = c2.vec_id
       |  JOIN embeddings eu ON eu.vec_id = c2.nid),
       |${p}rep AS MATERIALIZED (
       |  SELECT vec_id, nid, c FROM (
       |    SELECT vec_id, nid, c, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY c DESC, nid) AS rn
       |    FROM (SELECT vec_id, nid, max(c) AS c FROM (
       |            SELECT c3.vec_id, c3.nid, c3.c FROM ${p}cln c3
       |            JOIN ${p}tch t ON t.vec_id = c3.vec_id
       |            UNION ALL SELECT vec_id, nid, c FROM ${p}sc)
       |          GROUP BY vec_id, nid))
       |  WHERE rn <= $K),
       |${p}graph AS MATERIALIZED (
       |  SELECT c4.vec_id, c4.nid, c4.c FROM ${p}cln c4
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}tch t WHERE t.vec_id = c4.vec_id)
       |  UNION ALL SELECT vec_id, nid, c FROM ${p}rep)""".stripMargin

  /** qd1's streamed tombstone split: the qb4 rule (% [[DeleteMod]] ==
    * [[DeleteRes]]) cut into two CDC sweeps — %32==3 lands in the first
    * delete commit, %32==19 in the second, so the union is exactly
    * qb4's tombstone set but the fold is SEQUENTIAL. */
  val StreamDeleteRes2: Long = DeleteRes + DeleteMod

  /** The qd1 oracle: TWO delete generations unrolled — gen 1 repairs
    * the %32==3 sweep against the persisted full graph, gen 2 repairs
    * the %32==19 sweep against gen 1's OUTPUT graph, DERIVED IN SQL
    * (g1graph), never read back from the pipeline's persisted
    * generation — so a wrong batch-1 repair cannot hide behind
    * persistence (the qc8 discipline, delete edition). Sequential
    * repairs are NOT one-big-repair: gen 1 may patch a hole with a node
    * gen 2 then deletes and re-repairs, and a gen-1-touched node's list
    * read from the FINAL graph certifies exactly that interaction. The
    * measure reports every SAMPLED touched SURVIVOR's top-[[ReportK]]
    * from the final graph with exact flags over the surviving corpus
    * (qb4's reporting shape; touched-then-deleted nodes are excluded —
    * a deleted user gets no serve). */
  def streamDeleteOracleSql(graphPath: String): String = {
    val d1 = (c: String) => s"$c % ${DeleteMod * 2} = $DeleteRes"
    val d2 = (c: String) => s"$c % ${DeleteMod * 2} = $StreamDeleteRes2"
    s"""WITH g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |""".stripMargin +
      deleteGenCtes("g1", "g", d1) + ",\n" +
      deleteGenCtes("g2", "g1graph", d2) + ",\n" +
      s"""tchall AS MATERIALIZED (
         |  SELECT DISTINCT vec_id FROM (
         |    SELECT vec_id FROM g1tch
         |    WHERE NOT (${d2("vec_id")})
         |    UNION ALL SELECT vec_id FROM g2tch)
         |  WHERE vec_id % $FlagSampleMod = 0),
         |exact AS MATERIALIZED (
         |  SELECT qid, nid FROM (
         |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
         |      row_number() OVER (PARTITION BY qq.vec_id
         |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
         |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
         |    FROM embeddings qq
         |    JOIN tchall t ON t.vec_id = qq.vec_id
         |    JOIN embeddings e ON e.vec_id <> qq.vec_id
         |      AND e.vec_id % $DeleteMod <> $DeleteRes)
         |  WHERE rnk <= $ReportK),
         |fin AS (
         |  SELECT gg.vec_id, gg.nid, gg.c, row_number() OVER (
         |    PARTITION BY gg.vec_id ORDER BY gg.c DESC, gg.nid) AS rnk
         |  FROM g2graph gg JOIN tchall t ON t.vec_id = gg.vec_id)
         |SELECT f.vec_id AS qid, CAST(f.rnk AS INT) AS rnk, f.nid,
         |  CAST(round(f.c, 4) + 0 AS DOUBLE) AS cos,
         |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_exact
         |FROM fin f LEFT JOIN exact x ON x.qid = f.vec_id AND x.nid = f.nid
         |WHERE f.rnk <= $ReportK
         |ORDER BY qid, rnk""".stripMargin
  }

  /** qd4's mid-stream tombstone rule: the qb4 residue on BASE ids only
    * (delta inserts are never swept — no revival ambiguity; the suffix
    * family's generation-stamped revival is qc5's subject). */
  private def lifecycleDead(c: String): String =
    s"($c % $DeleteMod = $DeleteRes AND $c < (SELECT nb FROM nb))"

  /** The qd4 oracle: the FULL CDC lifecycle on one stream — THREE
    * generations unrolled in SQL, each replaying against the previous
    * generation's SQL-DERIVED output graph (never a persisted
    * intermediate): gen 1 INSERTS the even delta half into the
    * persisted base graph, gen 2 DELETES the %16==3 base sweep from
    * gen 1's output with local repair, gen 3 INSERTS the odd delta
    * half into gen 2's output with TOMBSTONE-AWARE probes (a probed
    * dead id must not re-enter fresh lists — the one candidate source
    * the repaired graph's stored edges don't already launder). The
    * measure reports every SAMPLED (delta ∪ repair-touched survivor)
    * node's top-[[ReportK]] from the FINAL graph with exact flags over
    * the LIVE corpus — gen-1 nodes re-top-K'd by gen-2 repair or
    * gen-3 back-edges are read exactly where those interactions
    * landed. */
  def lifecycleOracleSql(graphPath: String): String =
    s"""WITH nb AS MATERIALIZED (
       |  SELECT CAST(nn - nn // 16 AS BIGINT) AS nb
       |  FROM (SELECT COUNT(*) AS nn FROM embeddings)),
       |g AS MATERIALIZED (
       |  SELECT * FROM read_parquet('$graphPath/*.parquet')),
       |""".stripMargin +
      insertGenCtes("g1", "g", "vec_id % 2 = 0") + ",\n" +
      deleteGenCtes("g2", "g1graph", lifecycleDead) + ",\n" +
      insertGenCtes("g3", "g2graph", "vec_id % 2 = 1",
        s"NOT ${lifecycleDead("nid")}") + ",\n" +
      s"""rpt AS MATERIALIZED (
         |  SELECT DISTINCT vec_id FROM (
         |    SELECT vec_id FROM embeddings, nb WHERE vec_id >= nb.nb
         |    UNION ALL SELECT vec_id FROM g2tch)
         |  WHERE vec_id % $FlagSampleMod = 0),
         |exact AS MATERIALIZED (
         |  SELECT qid, nid FROM (
         |    SELECT qq.vec_id AS qid, e.vec_id AS nid,
         |      row_number() OVER (PARTITION BY qq.vec_id
         |        ORDER BY round(list_cosine_similarity(qq.embedding::DOUBLE[],
         |          e.embedding::DOUBLE[]), 9) DESC, e.vec_id) AS rnk
         |    FROM embeddings qq
         |    JOIN rpt t ON t.vec_id = qq.vec_id
         |    JOIN embeddings e ON e.vec_id <> qq.vec_id
         |      AND NOT ${lifecycleDead("e.vec_id")})
         |  WHERE rnk <= $ReportK),
         |fin AS (
         |  SELECT gg.vec_id, gg.nid, gg.c, row_number() OVER (
         |    PARTITION BY gg.vec_id ORDER BY gg.c DESC, gg.nid) AS rnk
         |  FROM g3graph gg JOIN rpt t ON t.vec_id = gg.vec_id)
         |SELECT f.vec_id AS qid, CAST(f.rnk AS INT) AS rnk, f.nid,
         |  CAST(round(f.c, 4) + 0 AS DOUBLE) AS cos,
         |  CASE WHEN x.nid IS NULL THEN 0 ELSE 1 END AS in_exact
         |FROM fin f LEFT JOIN exact x ON x.qid = f.vec_id AND x.nid = f.nid
         |WHERE f.rnk <= $ReportK
         |ORDER BY qid, rnk""".stripMargin
}
