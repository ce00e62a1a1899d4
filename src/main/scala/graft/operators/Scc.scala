package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Strongly connected components on a directed graph — the crawl-frontier
  * / link-spam primitive weakly-connected components can't express
  * (SURVEY.md §2.12 Tier C; reachability cycles = mutual-endorsement
  * rings, while WCC merges everything a single undirected path touches).
  *
  * Forward/backward reachability intersection (the FW-BW family,
  * Fleischer–Hendrickson–Pinar 2000, DataFrame-ified):
  *
  * per outer round over the REMAINING graph:
  *   1. TRIM: a node with no in-edges or no out-edges is its own
  *      singleton SCC — settle it without any propagation (removes the
  *      DAG fringe; tendrils unravel one layer per round).
  *   2. f(v) = min id that can REACH v (forward min-label propagation),
  *      g(v) = min id v can reach (same propagation on reversed edges).
  *      Both run the Shiloach–Vishkin-style HOOK + SHORTCUT alternation
  *      of [[ConnectedComponents]]: hook takes the min over in-neighbor
  *      labels; shortcut l(v) := min(l(v), l(l(v))) is SOUND for directed
  *      min-reachability (l(v)=u means u reaches v; l(u)=t means t
  *      reaches u; reachability composes, so t reaches v) and turns
  *      O(diameter) hook-only convergence into O(log diameter) rounds.
  *   3. SETTLE: f(v) = g(v) = c ⇒ c reaches v AND v reaches c ⇒
  *      v ∈ SCC(c), and the label is canonical (min id in the SCC:
  *      mutual reachability makes the reach-in and reach-out minima of
  *      the whole component equal to c ∈ SCC). At least the SCC of the
  *      globally minimal remaining id settles every round (nothing
  *      smaller reaches it, it reaches nothing smaller), so the outer
  *      loop strictly shrinks.
  *
  * Worst case is a long CHAIN of SCCs — inherently sequential for every
  * reachability-based SCC scheme (each link must settle before the next
  * can tell it is not in a larger cycle); trim unravels pure chains two
  * ends per round, and `maxOuter` bounds the loop LOUDLY (throws rather
  * than returning partial labels). Random/link-shaped graphs settle a
  * large fraction of nodes per round (one giant SCC + fringe → 2-4
  * rounds).
  *
  * Scale shape: every step is a join/agg on narrow (long, long) rows —
  * ids and labels only, never payloads; per inner round one shuffle
  * (hook) + one label self-join (shortcut), identical to CC;
  * `localCheckpoint` cuts iterative lineage (see [[IterationCheckpoint]]
  * for the durable-checkpoint knob cluster runs should set).
  */
object Scc {

  /** @param nodes one `id` (long) row per vertex
    * @param edges directed `src` → `dst` rows (ids outside `nodes` must
    *              not appear; self-loops are fine and ignored)
    * @return (node, scc) — scc = MIN node id in the strongly connected
    *         component, one row per input node */
  def run(nodes: DataFrame, edges: DataFrame, maxOuter: Int = 60): DataFrame = {
    var remaining = nodes.select(col("id").as("node")).distinct()
    // self-loops never separate SCCs (v is always in its own component)
    var live = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    var settled = remaining.withColumn("scc", col("node")).limit(0)
    var outer = 0
    while (!remaining.isEmpty) {
      outer += 1
      if (outer > maxOuter) throw new IllegalStateException(
        s"Scc: not settled after $maxOuter outer rounds — a chain of " +
          "that many SCCs is inherently sequential; raise maxOuter " +
          "explicitly if the graph really is that shape")
      remaining = IterationCheckpoint.cut(remaining)
      live = IterationCheckpoint.cut(live)
      // TRIM: no in-edges or no out-edges in the remaining graph ⇒
      // singleton SCC (narrow id-set algebra, no propagation)
      val hasOut = live.select(col("src").as("node")).distinct()
      val hasIn = live.select(col("dst").as("node")).distinct()
      val core = remaining.join(hasOut, Seq("node"), "left_semi")
        .join(hasIn, Seq("node"), "left_semi")
      val trivial = remaining.join(core, Seq("node"), "left_anti")
        .withColumn("scc", col("node"))
      // f on the graph, g on the reverse graph, over the trimmed core.
      // Cut both inputs ONCE: minReach's hook join consumes `edges`
      // every inner round, so an uncut coreEdges would replay the two
      // trim semi-joins per round. The two propagations are independent
      // (same core, opposite edge direction) — [[DriverPar]] submits them
      // from two driver threads so their per-round jobs interleave on the
      // cluster instead of serializing (the scheduler fills idle slots
      // with whichever propagation has work; halves the critical path
      // when rounds are overhead-bound).
      val coreC = IterationCheckpoint.cut(core)
      val coreEdgesC = IterationCheckpoint.cut(live
        .join(core.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(core.select(col("node").as("dst")), Seq("dst"), "left_semi"))
      val Seq(f, g) = DriverPar.map(Seq(coreEdgesC,
        coreEdgesC.select(col("dst").as("src"), col("src").as("dst"))))(minReach(coreC, _))
      val settledNow = f.join(g.withColumnRenamed("lab", "glab"), Seq("node"))
        .filter(col("lab") === col("glab"))
        .select(col("node"), col("lab").as("scc"))
        .unionByName(trivial)
      settled = settled.unionByName(settledNow).localCheckpoint()
      remaining = remaining.join(settledNow, Seq("node"), "left_anti")
      live = live
        .join(remaining.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(remaining.select(col("node").as("dst")), Seq("dst"), "left_semi")
    }
    settled
  }

  /** Fixpoint of l(v) = min over {v} ∪ {l(u) : u→v} — the min id that
    * can reach v — via hook + directed-sound shortcut, O(log diameter)
    * rounds. Returns (node, lab). */
  private def minReach(nodes: DataFrame, edges: DataFrame): DataFrame = {
    var labels = nodes.withColumn("lab", col("node")).localCheckpoint()
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) {
      rounds += 1
      // HOOK, fused to one join + one aggregate (round 16, the
      // ConnectedComponents fusion): each node's own label rides the
      // hook shuffle as a tagged self-message, so min over {v} ∪
      // in-neighbor labels falls out of one groupBy — no labels⋈nbrMin
      // re-join, and nodes without in-edges are covered by their self
      // row (what the old left join was for)
      val hooked = edges.join(labels, edges("src") === labels("node"))
        .select(col("dst").as("node"), col("lab"), lit(null).cast("long").as("own"))
        .unionByName(labels.select(col("node"), col("lab"), col("lab").as("own")))
        .groupBy(col("node"))
        .agg(min(col("lab")).as("lab"), min(col("own")).as("old"))
        .select(col("node"), col("lab"),
          (col("lab") < col("old")).as("hook_changed"))
      // SHORTCUT: l(v) := min(l(v), l(l(v))) — labels are node ids, so
      // the self-join is total within the core
      val lmap = hooked.select(col("node").as("ln"), col("lab").as("llab"))
      val next = hooked.join(lmap, hooked("lab") === lmap("ln"), "left")
        .select(hooked("node"),
          least(col("lab"), coalesce(col("llab"), col("lab"))).as("lab"),
          (col("hook_changed") ||
            coalesce(col("llab") < hooked("lab"), lit(false))).as("changed"))
        .localCheckpoint()
      converged = next.filter(col("changed")).isEmpty
      labels = next.select(col("node"), col("lab"))
    }
    if (!converged) throw new IllegalStateException(
      "Scc.minReach: no fixpoint in 64 rounds (graph diameter over 2^64?)")
    labels
  }
}
