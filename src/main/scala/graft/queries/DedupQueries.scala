package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{BloomFunctions, HashExpressions, TextExpressions, VectorFunctions}
import graft.operators.ConnectedComponents
import graft.sources.Tables

/** Deduplication operators over `documents` / `embeddings` (SURVEY.md
  * §2.12, Tier C): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale design notes (the point of each variant):
  *   - q60 exact: group on a 256-bit content hash, never on the text bytes —
  *     the shuffle carries 32-byte keys instead of documents.
  *   - q61 exact n-gram Jaccard: inverted-index self-join on shingles. The
  *     classic skew hazard is ultra-frequent shingles; a document-frequency
  *     cap (mirrored in the oracle) bounds the worst posting list, keeping
  *     the join near-linear at 100 TB.
  *   - q62 MinHash-LSH: same answer as q61 but candidate generation is the
  *     banded-signature bucket join — O(docs × bands) shuffle rows of fixed
  *     width, independent of document length. Candidates are exact-verified,
  *     so precision is exact and only recall depends on (bands, rows): with
  *     k=128, b=32, r=4 the miss probability at J≥0.9 is < 1e-20.
  *   - q63 SimHash: 64-bit sketch, 4×16-bit band buckets guarantee (by
  *     pigeonhole) that any pair within Hamming distance 3 shares a band.
  *   - q64 embedding near-dup: brute-force all-pairs at test scale (the
  *     correctness baseline); the bucketed/IVF scale path is q66.
  */
object DedupQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** doc_id + distinct word-3-gram shingles (order-sensitive content set).
    * Native single-loop expression — the declarative HOF form
    * (array_distinct ∘ transform ∘ sequence) pays per-element interpreted
    * lambda dispatch and measured ~30× slower on this pipeline; see
    * [[graft.functions.WordShinglesExpr]]. */
  private def withShingles(df: DataFrame): DataFrame =
    df.select(col("doc_id"), TextExpressions.word_shingles(col("text"), 3).as("sh"))

  /** DuckDB mirror of [[shingles]] (1-indexed lists, same 3-gram window). */
  private val shinglesSql =
    """list_distinct(list_transform(
         generate_series(1, len(string_split(text,' ')) - 2),
         i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
              || ' ' || string_split(text,' ')[i+2]))"""

  /** CTE body computing per-pair shingle-intersection counts + set sizes
    * via inverted index (DF cap 200 on posting lists) — the shared
    * candidate machinery under Jaccard (jp), containment (q5p) and
    * edit-distance-verify (q5q) oracles. */
  private val pairCountsCte =
    s"""d0 AS (
         SELECT doc_id, unnest($shinglesSql) AS sh FROM documents),
       df AS (SELECT sh FROM d0 GROUP BY sh HAVING count(*) <= 200),
       d AS (SELECT d0.doc_id, d0.sh FROM d0 JOIN df ON d0.sh = df.sh),
       sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
       pair AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         FROM d a JOIN d b ON a.sh = b.sh AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
       pc AS (
         SELECT id_a, id_b, inter, sa.n AS na, sb.n AS nb
         FROM pair
         JOIN sz sa ON sa.doc_id = id_a
         JOIN sz sb ON sb.doc_id = id_b)"""

  /** CTE body: all pairs with shingle-Jaccard ≥ 0.7 — shared by
    * q61/q62/q6a/q6d/q6e/q5o oracles. */
  private[queries] val jaccardPairsCte =
    s"""$pairCountsCte,
       jp AS (
         SELECT id_a, id_b, inter * 1.0 / (na + nb - inter) AS jac
         FROM pc WHERE inter * 1.0 / (na + nb - inter) >= 0.7)"""

  /** Exact all-pairs shingle-Jaccard ≥ 0.7 — oracle for q61 AND q62. */
  private val exactJaccardSql =
    s"""WITH $jaccardPairsCte
       SELECT id_a, id_b, CAST(round(jac, 4) + 0 AS DOUBLE) AS jac
       FROM jp ORDER BY id_a, id_b"""

  /** Spark side of the exact inverted-index Jaccard join (shared q61/q62
    * verification): posting lists capped at DF ≤ 200 like the oracle.
    *
    * Shape chosen for scale: aggregate postings per shingle (one shuffle,
    * keyed by shingle — the DF cap bounds every group), explode each
    * posting list's i<j pairs with a compiled kernel, count co-occurrences
    * per pair (second shuffle, keyed by pair). No self-join: a posting
    * self-join re-shuffles the full posting table twice and its hot keys
    * square; here the cap turns the same quadratic into a bounded constant
    * per group. */
  /** (id_a, id_b, inter, na, nb) for every co-occurring pair — the shared
    * Spark side of [[pairCountsCte]]. */
  private def pairCounts(d: DataFrame): DataFrame = {
    val posting = d.select(col("doc_id"), explode(col("sh")).as("sh"))
    val lists = posting.groupBy("sh")
      .agg(sort_array(collect_list("doc_id")).as("ids"))
      .filter(size(col("ids")) <= 200) // DF cap, mirrored in the oracle
    val sz = lists.select(explode(col("ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = lists
      .select(explode(TextExpressions.id_pairs(col("ids"))).as("p"))
      .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sz.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
  }

  /** EXACT eps-neighbor pairs (cosine >= thresh, id_a < id_b, unrounded
    * `c`) via the triangle-inequality multi-probe cell-blocked join —
    * the q6c machinery, parameterized by threshold (shared by q6c and
    * qaw's DBSCAN). Completeness is by construction, not recall: v
    * probes cell c iff dist(v,c) <= t + r_c, and any true pair (u,v)
    * with u assigned to c satisfies dist(v,c) <= dist(v,u) + dist(u,c)
    * <= t + r_c — so the cell-blocked equi-join provably sees every
    * qualifying pair while never comparing across distant cells. */
  private[graft] def epsPairs(e: DataFrame, thresh: Double): DataFrame = {
    // adaptive cell count k = ceil(sqrt(N)) — see SimilarityQueries.centroids
    val cent = SimilarityQueries.centroids(e)
    val t = math.sqrt(2.0 - 2.0 * thresh) // cos ⇔ dist on unit vectors
    // 2−2cos clamped at 0: a vector scored against ITSELF (centroids
    // are corpus members) can see cos = 1 + 2 ulp, and sqrt of the
    // tiny negative is NaN — which silently assigns the centroid to a
    // far cell and inflates that cell's radius to ~max distance,
    // wrecking probe pruning (found by the clustered ScaleProbe).
    def distTo(cos: Column): Column =
      sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * cos))
    // nearest-centroid assignment (one broadcast pass, as q66) —
    // argmin as a hash aggregate: min over struct(dist, cid) picks
    // the closest cell (ties to the smaller cid) with map-side
    // partial combine, one shuffle row per vector instead of k
    val assign = e.crossJoin(broadcast(cent))
      .withColumn("dist",
        distTo(VectorFunctions.cosine_sim(col("embedding"), col("ce"))))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
    val radius = assign.groupBy(col("cid")).agg(max(col("dist")).as("r"))
    // triangle-inequality multi-probe: v probes cell c iff dist(v,c) ≤ t + r_c
    val probes = e.crossJoin(broadcast(cent.join(radius, "cid")))
      .withColumn("dist",
        distTo(VectorFunctions.cosine_sim(col("embedding"), col("ce"))))
      .filter(col("dist") <= lit(t) + col("r"))
      .select(col("vec_id").as("probe_id"), col("cid"))
    // cell-blocked candidates (equi-join on cell), then exact verify
    val cand = assign.select(col("cid"), col("vec_id").as("member_id"))
      .join(probes, "cid")
      .filter(col("member_id") =!= col("probe_id"))
      .select(least(col("member_id"), col("probe_id")).as("id_a"),
        greatest(col("member_id"), col("probe_id")).as("id_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      // quantize-before-compare (round-9, the ANN idiom): membership at
      // the threshold must not hinge on a 1-ulp engine divergence
      .withColumn("c", round(VectorFunctions.cosine_sim(col("ea"), col("eb")), 9))
      .filter(col("c") >= thresh)
      .select(col("id_a"), col("id_b"), col("c"))
  }

  /** The corpus's Jaccard-0.7 pair graph as a bare (id_a, id_b) edge
    * list — the shared input of the cluster-formation family (q6a/q6k
    * batch, the q8f streaming drain). */
  private[graft] def jaccardPairEdges(s: SparkSession, dir: String): DataFrame =
    jaccardPairsRaw(withShingles(docs(s, dir)))
      .select(col("id_a"), col("id_b"))

  private[graft] def jaccardPairsRaw(d: DataFrame): DataFrame =
    pairCounts(d)
      .withColumn("jac", col("inter") * 1.0 / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= 0.7)
      .select(col("id_a"), col("id_b"), col("jac"))

  private def exactJaccardPairs(d: DataFrame): DataFrame =
    jaccardPairsRaw(d)
      .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
      .orderBy(col("id_a"), col("id_b"))

  /** Exact all-pairs cosine ≥ 0.45 — oracle for q64 AND q6c (shared, so
    * the bucketed path must reproduce the brute-force answer bit-exactly). */
  // quantize-before-compare (the round-9 ANN idiom): both engines round
  // the cosine to 9 places BEFORE the threshold test, so a 1-ulp
  // divergence between the two engines' float paths can't flip pair
  // membership at the threshold
  private val embeddingPairsSql =
    """SELECT id_a, id_b, CAST(round(c, 4) + 0 AS DOUBLE) AS cos FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            round(list_cosine_similarity(a.embedding::DOUBLE[],
                  b.embedding::DOUBLE[]), 9) + 0 AS c
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        WHERE c >= 0.45
        ORDER BY id_a, id_b"""

  /** Materialization path for q63's two-stage oracle, derived from the
    * scale-factor directory so runs against different sfDirs (a Verify at
    * sf0.01 while a Bench runs sf0.1) write and read disjoint files. The
    * run closure derives it from its runtime `dir` argument; the oracle
    * SQL embeds the same path at [[all]] construction time (Verify dumps
    * `SparkEntry.oracleSqlFor(sfDir)`, so the two always agree). */
  private[queries] def q63SketchPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "q63_sketches.parquet")

  def all(sfDir: String): Seq[QueryDef] = Seq(

    // Exact dedup on a 256-bit content hash: keep the smallest doc_id per
    // identical text, count the copies.
    QueryDef(
      "q60_exact_dedup",
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS copies,
          sha256(text) AS content_hash
        FROM documents GROUP BY sha256(text) ORDER BY keep_id"""),
      (s, dir) =>
        docs(s, dir)
          .groupBy(sha2(col("text"), 256).as("content_hash"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
          .select(col("keep_id"), col("copies"), col("content_hash"))
          .orderBy(col("keep_id"))),

    // Exact near-dup: inverted-index shingle join, Jaccard ≥ 0.7.
    QueryDef(
      "q61_ngram_jaccard_dedup",
      Some(exactJaccardSql),
      (s, dir) =>
        exactJaccardPairs(withShingles(docs(s, dir)))),

    // MinHash-LSH near-dup: banded-signature candidate generation, then
    // exact Jaccard verification of the (tiny) candidate set. Same oracle
    // as q61 — the check proves the LSH path loses nothing at J ≥ 0.7.
    QueryDef(
      "q62_minhash_lsh_dedup",
      Some(exactJaccardSql),
      (s, dir) => {
        // DF ≤ 200 capped shingle view — the SAME cap the shared oracle
        // applies, enforced at every stage: signatures approximate, and
        // verification computes, the CAPPED Jaccard measure. Without
        // this, one corpus-frequent boilerplate shingle (DF > 200) would
        // silently diverge the full-set verify from the oracle's capped
        // Jaccard — and signatures over full sets would approximate a
        // different measure than the one verified.
        val posting = withShingles(docs(s, dir))
          .select(col("doc_id"), explode(col("sh")).as("s1"))
        val kept = posting.groupBy("s1").agg(count(lit(1)).as("df0"))
          .filter(col("df0") <= 200).select("s1")
        val d = posting.join(kept, "s1")
          .groupBy("doc_id").agg(collect_set(col("s1")).as("sh"))
        val sig = d.select(col("doc_id"),
          HashExpressions.minhash_signature(col("sh"), k = 128).as("sig"))
        // 32 bands × 4 rows: bucket key = hash of the band's signature slice
        val buckets = sig.select(col("doc_id"),
          explode(transform(sequence(lit(0), lit(31)),
            b => struct(b.as("band"),
              xxhash64(slice(col("sig"), b * 4 + 1, lit(4))).as("bh")))).as("bb"))
          .select(col("doc_id"), col("bb.band"), col("bb.bh"))
        val cand = buckets.as("a")
          .join(buckets.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        // exact verification: fetch both shingle sets, compute true Jaccard
        val verified = cand
          .join(d.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
          .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
          .withColumn("jac",
            size(array_intersect(col("sh_a"), col("sh_b"))) * 1.0 /
              size(array_union(col("sh_a"), col("sh_b"))))
          .filter(col("jac") >= 0.7)
        verified.select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
          .orderBy(col("id_a"), col("id_b"))
      }),

    // SimHash near-dup: 64-bit sketch over shingles, 4×16-bit bands →
    // pairs within Hamming distance ≤ 3 (pigeonhole-complete). The sketch
    // computation isn't DuckDB-expressible, so the check is two-stage:
    // the query materializes the sketches to a fixed path, computes the
    // pairs through the BANDED path over that materialized table, and the
    // oracle brute-forces all-pairs Hamming ≤ 3 over the same file —
    // hash-equality proves the banding recalls every qualifying pair
    // (the pigeonhole completeness claim, machine-checked). The sketch
    // internals stay unit-tested in HashVectorSpec.
    QueryDef(
      "q63_simhash_dedup",
      Some(s"""WITH s AS (SELECT * FROM read_parquet('${q63SketchPath(sfDir)}/*.parquet'))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.sh64, b.sh64)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sh64, b.sh64)) <= 3
        ORDER BY id_a, id_b"""),
      (s, dir) => {
        withShingles(docs(s, dir))
          .select(col("doc_id"), HashExpressions.simhash64(col("sh")).as("sh64"))
          .write.mode("overwrite").parquet(q63SketchPath(dir))
        val sig = s.read.parquet(q63SketchPath(dir))
        val bands = sig.select(col("doc_id"), col("sh64"),
          explode(array((0 until 4).map(b => struct(lit(b).as("band"),
            shiftrightunsigned(col("sh64"), b * 16).bitwiseAND(0xFFFFL).as("bh"))): _*))
            .as("bb"))
          .select(col("doc_id"), col("sh64"), col("bb.band"), col("bb.bh"))
        bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy(col("id_a"), col("id_b"))
      }),

    // Incremental dedup: which documents of a new ingestion batch carry
    // content never seen in the prior snapshot — anti-join on the content
    // hash, the continuous-pipeline twin of q60. At 100 TB the snapshot
    // side is a hash-only table (32-byte rows), bucketable by hash prefix.
    QueryDef(
      "q6b_incremental_dedup",
      Some("""SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id >= 250
          AND sha256(d.text) NOT IN (
            SELECT sha256(text) FROM documents WHERE doc_id < 250)
        ORDER BY d.doc_id"""),
      (s, dir) => {
        val all = docs(s, dir).withColumn("h", sha2(col("text"), 256))
        val snapshot = all.filter(col("doc_id") < 250).select(col("h"))
        all.filter(col("doc_id") >= 250)
          .join(snapshot, Seq("h"), "left_anti")
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      }),

    // Incremental dedup, Bloom scale path — same semantics (and same
    // oracle) as q6b, but membership against the snapshot is tested by a
    // Bloom filter built as a distributed aggregate and carried in-plan as
    // a scalar subquery (graft.functions.BloomFunctions; Spark's own
    // runtime-filter expressions, here surfaced as an operator).
    //
    // Why this is the 100 TB shape: the plain anti join shuffles EVERY
    // incoming row's hash; here rows the filter rules out — in append-mostly
    // ingest, almost all of them — are settled at scan time by a codegen'd
    // bit-test against a broadcast-sized sketch (~10 bits per snapshot key),
    // and only Bloom-positive candidates (true dups + the ~1% false-positive
    // tail) reach the exact confirm anti join. No false negatives by
    // construction (equal text ⇒ equal xxhash64 ⇒ filter hit), and the
    // confirm join removes false positives, so the result is bit-identical
    // to q6b — which is exactly what the shared oracle asserts.
    //
    // Operating envelope (measured, SCALE_PROBE.md round 4): the win is the
    // incoming-side exchange reduction (~8× rows in the append-mostly
    // probe), so use this path when incoming ≫ snapshot and the snapshot
    // exceeds the broadcast threshold. Anti-case: a snapshot as large as
    // the incoming batch still pays its full shuffle in the confirm join —
    // there the prefilter buys nothing and q6b's plain anti join is the
    // right plan.
    QueryDef(
      "q6g_bloom_incremental_dedup",
      Some("""SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id >= 250
          AND sha256(d.text) NOT IN (
            SELECT sha256(text) FROM documents WHERE doc_id < 250)
        ORDER BY d.doc_id"""),
      (s, dir) => {
        val all = docs(s, dir).withColumn("h", sha2(col("text"), 256))
        val snapshot = all.filter(col("doc_id") < 250).select(col("h"))
        val incoming = all.filter(col("doc_id") >= 250)
        // ~10 bits/key ≈ 1% fpp; sized generously for the test corpus.
        val bloom = snapshot
          .agg(BloomFunctions.bloom_agg(col("h"), 10000L, 100000L).as("bf"))
          .scalar()
        val flagged = incoming
          .withColumn("cand", BloomFunctions.might_contain(bloom, col("h")))
        val novel = flagged.filter(!col("cand"))
          .select(col("doc_id"), col("lang"))
        val confirmed = flagged.filter(col("cand"))
          .join(snapshot, Seq("h"), "left_anti")
          .select(col("doc_id"), col("lang"))
        novel.unionByName(confirmed).orderBy(col("doc_id"))
      }),

    // Incremental dedup under DELETES, counting-Bloom scale path — the
    // retraction verb for the membership sketch, completing the
    // indexes-under-deletes family (MinHash compaction qb7, suffix
    // compaction qb8, and here the q6g gate itself): a compliance sweep
    // retracts every 7th snapshot doc, and the incoming batch must be
    // screened against the LIVE snapshot — an incoming text whose only
    // snapshot match was deleted is NOVEL again (re-admission), the
    // verdict a plain Bloom filter can never produce (bits cannot be
    // unset; q6g's filter would answer "maybe present" forever and at
    // best pay the confirm join for every re-admitted row — at worst, a
    // naive clear-the-bits delete silently drops OTHER keys sharing the
    // cells). Counters make retraction exact by multiset arithmetic:
    // the filter is inserts − deletes as one narrow order-independent
    // (cell, ±1) aggregate (k rows per key, map-side combinable, never
    // the keys), folded to a single broadcast map row; deleting one
    // copy of a duplicated text leaves the live copy's counters
    // positive — the case the spec pins. Probe is row-local against
    // the scalar; only filter-positive candidates (true live dups + the
    // FPP tail, where fully-deleted keys land) reach the exact confirm
    // anti join against the LIVE hashes — so the result is
    // bit-identical to the plain live anti join, which is exactly what
    // the oracle asserts. The delete costs |deletes|·k sketch rows,
    // never a filter rebuild over the surviving snapshot.
    QueryDef(
      "qb9_counting_bloom_dedup",
      Some(countingBloomOracleSql),
      (s, dir) => {
        val all = docs(s, dir).withColumn("h", sha2(col("text"), 256))
        val snapshot = all.filter(col("doc_id") < 250)
        val retracted = snapshot
          .filter(pmod(col("doc_id"), lit(7)) === 0).select(col("h"))
        val liveH = snapshot
          .filter(pmod(col("doc_id"), lit(7)) =!= 0).select(col("h"))
        val incoming = all.filter(col("doc_id") >= 250)
        val (m, k) = (65536L, 4)
        val cbf = BloomFunctions.counting_bloom(
          snapshot.select(col("h")), retracted, m, k)
        val flagged = incoming.withColumn("cand",
          BloomFunctions.counting_might_contain(cbf, col("h"), m, k))
        val novel = flagged.filter(!col("cand"))
          .select(col("doc_id"), col("lang"))
        val confirmed = flagged.filter(col("cand"))
          .join(liveH, Seq("h"), "left_anti")
          .select(col("doc_id"), col("lang"))
        novel.unionByName(confirmed).orderBy(col("doc_id"))
      }),

    // Near-dup cluster formation: connected components over the Jaccard
    // pair graph (iterative min-label propagation — see
    // graft.operators.ConnectedComponents). The oracle replays the
    // clustering as a recursive-CTE transitive closure. Output: every
    // clustered doc with its cluster representative (min reachable id).
    QueryDef(
      "q6a_dedup_clusters",
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
          sym AS (SELECT id_a AS a, id_b AS b FROM jp
                  UNION ALL SELECT id_b, id_a FROM jp),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
          SELECT a AS doc_id, min(b) AS component
          FROM reach GROUP BY a ORDER BY doc_id"""),
      (s, dir) => {
        val pairs = jaccardPairsRaw(withShingles(docs(s, dir)))
          .select(col("id_a"), col("id_b"))
        ConnectedComponents.run(pairs)
          .select(col("node").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      }),

    // INCREMENTAL cluster formation — the streaming twin q6a lacks: a
    // near-dup pair arriving via CDC must not cost a full corpus CC
    // re-run. The pair stream is split into a STANDING batch (both
    // endpoints in the 90% base population, q5m's split rule) whose CC
    // labels are built with q6a's operator and PERSISTED, and a DELTA
    // batch (any endpoint in the 10% arrivals) merged into the read-back
    // labels with [[ConnectedComponents.incremental]] — O(|delta|)
    // reduced-graph CC + one broadcast relabel, no corpus re-scan. The
    // oracle is q6a's full recursive-CTE closure over the UNION graph:
    // a hash match proves the incremental merge algebra reproduces
    // from-scratch CC exactly (wrong merge = wrong component minima =
    // mismatch). Pairs are generated once over the full corpus (the DF
    // cap is corpus-wide) and split by endpoint — the two-batch arrival
    // order of the same pair stream.
    QueryDef(
      "q6k_cc_incremental",
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
          sym AS (SELECT id_a AS a, id_b AS b FROM jp
                  UNION ALL SELECT id_b, id_a FROM jp),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
          SELECT a AS doc_id, min(b) AS component
          FROM reach GROUP BY a ORDER BY doc_id"""),
      (s, dir) => {
        val p = QueryDef.materializePath(dir, "q6k_labels")
        val pairs = jaccardPairsRaw(withShingles(docs(s, dir)))
          .select(col("id_a"), col("id_b"))
          .localCheckpoint() // split twice below; pair generation runs once
        val isNew = (id: org.apache.spark.sql.Column) => pmod(id, lit(10)) === 0
        val baseEdges = pairs.filter(!isNew(col("id_a")) && !isNew(col("id_b")))
        val deltaEdges = pairs.filter(isNew(col("id_a")) || isNew(col("id_b")))
        // standing index: CC over the base batch, persisted (the q5m
        // persisted-artifact pattern — the serve path must read BACK)
        ConnectedComponents.run(baseEdges)
          .select(col("node"), col("component"))
          .write.mode("overwrite").parquet(p)
        ConnectedComponents.incremental(s.read.parquet(p), deltaEdges)
          .select(col("node").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      }),

    // LINE-level dedup (the C4/web-corpus cleaning rule the DOCUMENT-level
    // family can't express: boilerplate SPANS repeat across documents that
    // are not near-dups of each other). "Lines" here are non-overlapping
    // 8-word windows (the corpus has no newlines; same rule, fixed span);
    // a window occurring more than once corpus-wide is removed EVERYWHERE
    // except its first occurrence (min (doc_id, pos) — C4's "all but one").
    // The tail (< 8 words) is outside every window, deterministically.
    //
    // Scale shape — the reason this isn't a groupBy on window TEXT: the
    // occurrence-decision shuffle carries only (doc_id, pos, 64-bit hash)
    // tuples, and what joins BACK to the corpus is the per-doc DROPPED
    // position list — bounded by the duplicate rate (~5% here), so the
    // reassembly join broadcasts its small side and document bodies
    // never cross an exchange: text is re-windowed and reassembled
    // row-locally by indexing the original word array with the surviving
    // positions. (Joining the KEPT decisions back instead would make the
    // small side corpus-sized and force a body shuffle.) The oracle
    // groups by the window text itself — identical grouping unless
    // xxhash64 collides, the same accepted trade every hash-keyed dedup
    // here makes (q60 sha256, q62 band hashes).
    QueryDef(
      "q6l_line_dedup",
      Some("""WITH w0 AS (
          SELECT doc_id, string_split(text,' ') AS ws,
                 unnest(generate_series(0, len(string_split(text,' '))//8 - 1)) AS pos
          FROM documents),
        w AS (SELECT doc_id, pos,
                array_to_string(ws[pos*8+1 : pos*8+8], ' ') AS win
              FROM w0),
        d AS (SELECT win, count(*) AS cnt,
                min(doc_id * 100000 + pos) AS first_key
              FROM w GROUP BY win),
        k AS (SELECT w.doc_id, w.pos, w.win
              FROM w JOIN d ON w.win = d.win
              WHERE d.cnt = 1 OR w.doc_id * 100000 + w.pos = d.first_key),
        nw AS (SELECT doc_id, count(*) AS n_windows FROM w GROUP BY doc_id),
        kept AS (SELECT doc_id, count(*) AS n_kept,
                   string_agg(win, ' ' ORDER BY pos) AS cleaned_text
                 FROM k GROUP BY doc_id)
        SELECT nw.doc_id,
          CAST(nw.n_windows AS BIGINT) AS n_windows,
          CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
          coalesce(kept.cleaned_text, '') AS cleaned_text
        FROM nw LEFT JOIN kept ON kept.doc_id = nw.doc_id
        ORDER BY nw.doc_id"""),
      (s, dir) => {
        val ws = split(col("text"), " ")
        val base = docs(s, dir)
          .select(col("doc_id"), ws.as("ws"),
            (size(ws) / 8).cast("int").as("nwin"))
          .filter(col("nwin") >= 1)
        // decision stream: hash per window — the only thing shuffled
        val w = base.select(col("doc_id"),
            posexplode(transform(sequence(lit(0), col("nwin") - 1),
              i => xxhash64(array_join(slice(col("ws"), i * 8 + 1, lit(8)), " ")))))
          .withColumnRenamed("pos", "pos").withColumnRenamed("col", "h")
        val key = col("doc_id") * 100000L + col("pos")
        val d = w.groupBy(col("h"))
          .agg(count(lit(1)).as("cnt"), min(key).as("first_key"))
        // only the DROPS come back to the corpus (duplicate-rate-bounded)
        val dropPos = w.join(d, Seq("h"))
          .filter(col("cnt") > 1 && key =!= col("first_key"))
          .groupBy(col("doc_id"))
          .agg(collect_set(col("pos")).as("dropped"))
        // reassembly: row-local re-window + index by surviving positions
        base
          .join(dropPos, Seq("doc_id"), "left")
          .withColumn("dropped",
            coalesce(col("dropped"), array().cast("array<int>")))
          .withColumn("kept",
            filter(sequence(lit(0), col("nwin") - 1),
              p => !array_contains(col("dropped"), p)))
          .select(col("doc_id"),
            col("nwin").cast("long").as("n_windows"),
            size(col("kept")).cast("long").as("n_kept"),
            array_join(transform(col("kept"),
              p => array_join(slice(col("ws"), p * 8 + 1, lit(8)), " ")), " ")
              .as("cleaned_text"))
          .orderBy(col("doc_id"))
      }),

    // Dedup-AWARE train/val/test split — the assignment rule that keeps
    // evaluation honest: hashing each DOCUMENT into a split leaks
    // near-duplicates across train and test (the classic contamination
    // vector benchmark decontamination (q5e) exists to catch after the
    // fact); hashing each CLUSTER assigns every near-dup family
    // atomically, so leakage is structurally impossible. Split = Knuth
    // multiplicative hash of the cluster representative (the q5h
    // deterministic-Bernoulli rule: pure integer arithmetic, identical
    // on both engines, reproducible at any cluster size), 80/10/10.
    // The representative id is first reduced mod the prime 1000003 so
    // the Knuth multiply stays under 2.7e15 — far inside signed-64 —
    // at ANY id scale: Spark would silently wrap a larger product while
    // DuckDB raises a BIGINT overflow, i.e. the engines would diverge
    // exactly on the web-scale corpora (ids > ~3.4e9) the split targets.
    // Scale: the decision rides the narrow (doc_id, component) table —
    // document bodies never shuffle; singleton docs take their own id
    // as representative (no join amplification).
    QueryDef(
      "q5o_dedup_split",
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
          sym AS (SELECT id_a AS a, id_b AS b FROM jp
                  UNION ALL SELECT id_b, id_a FROM jp),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          comp AS (SELECT a AS doc_id, min(b) AS component
                   FROM reach GROUP BY a),
          alldocs AS (SELECT d.doc_id,
                coalesce(c.component, d.doc_id) AS component
              FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
          bk AS (SELECT doc_id, component,
                ((component % 1000003) * 2654435761) % 100 AS bucket
              FROM alldocs)
          SELECT doc_id, component,
            CASE WHEN bucket < 80 THEN 'train'
                 WHEN bucket < 90 THEN 'val'
                 ELSE 'test' END AS split
          FROM bk ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = jaccardPairsRaw(withShingles(d))
          .select(col("id_a"), col("id_b"))
        val cc = ConnectedComponents.run(pairs)
          .select(col("node").as("doc_id"), col("component"))
        d.select(col("doc_id"))
          .join(cc, Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .withColumn("bucket",
            pmod((col("component") % 1000003L) * 2654435761L, lit(100)))
          .select(col("doc_id"), col("component"),
            when(col("bucket") < 80, "train")
              .when(col("bucket") < 90, "val")
              .otherwise("test").as("split"))
          .orderBy(col("doc_id"))
      }),

    // Containment dedup — the SUBSTRING-duplicate class Jaccard
    // structurally misses: when a short document is quoted inside a long
    // one, |A∩B|/|A∪B| dilutes toward |A|/|B| (a 100-word doc inside a
    // 2000-word doc has Jaccard ≈ 0.05) while the containment
    // coefficient |A∩B|/min(|A|,|B|) reads ≈ 1. Same inverted-index
    // candidate machinery as q61 (one shuffle keyed by shingle, DF cap,
    // compiled pair kernel — bodies never shuffle), different verdict
    // fraction. Both fractions are one exact-integer division, so the
    // engines agree bit-for-bit.
    QueryDef(
      "q5p_containment_dedup",
      Some(s"""WITH $pairCountsCte
          SELECT id_a, id_b, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
            CAST(round(inter * 1.0 / least(na, nb), 4) + 0 AS DOUBLE) AS containment
          FROM pc WHERE inter * 1.0 / least(na, nb) >= 0.9
          ORDER BY id_a, id_b"""),
      (s, dir) =>
        pairCounts(withShingles(docs(s, dir)))
          .withColumn("containment",
            col("inter") * 1.0 / least(col("na"), col("nb")))
          .filter(col("containment") >= 0.9)
          .select(col("id_a"), col("id_b"), col("na"), col("nb"),
            round(col("containment"), 4).as("containment"))
          .orderBy(col("id_a"), col("id_b"))),

    // Edit-distance verification — the fuzzy-dedup pipeline's exact
    // second stage: cheap set-overlap candidates (loose Jaccard ≥ 0.35
    // bar, same inverted index) verified by character-level Levenshtein,
    // the measure that catches small in-place edits (typo fixes,
    // template variable substitution) which shingle overlap only
    // approximates. Both engines implement unit-cost Levenshtein — the
    // integers agree exactly, and the normalized similarity is one
    // integer division. Scale: the O(len²) DP runs ONLY on candidate
    // pairs (bounded by the DF-capped index, never all pairs), and the
    // texts are fetched by narrow id equi-joins.
    QueryDef(
      "q5q_editdist_dedup",
      Some(s"""WITH $pairCountsCte,
          cand AS (SELECT id_a, id_b FROM pc
                   WHERE inter * 1.0 / (na + nb - inter) >= 0.35),
          v AS (SELECT c.id_a, c.id_b,
                  levenshtein(da.text, db.text) AS lev,
                  greatest(len(da.text), len(db.text)) AS mx
                FROM cand c
                JOIN documents da ON da.doc_id = c.id_a
                JOIN documents db ON db.doc_id = c.id_b)
          SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev,
            CAST(round(1.0 - lev * 1.0 / mx, 4) + 0 AS DOUBLE) AS sim,
            (1.0 - lev * 1.0 / mx) >= 0.98 AS is_dup
          FROM v ORDER BY id_a, id_b"""),
      (s, dir) => {
        val d = docs(s, dir)
        val cand = pairCounts(withShingles(d))
          .filter(col("inter") * 1.0 / (col("na") + col("nb") - col("inter")) >= 0.35)
          .select(col("id_a"), col("id_b"))
        cand
          .join(d.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
          .join(d.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
          .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
          .withColumn("mx", greatest(length(col("ta")), length(col("tb"))))
          .select(col("id_a"), col("id_b"), col("lev"),
            round(lit(1.0) - col("lev") * 1.0 / col("mx"), 4).as("sim"),
            ((lit(1.0) - col("lev") * 1.0 / col("mx")) >= 0.98).as("is_dup"))
          .orderBy(col("id_a"), col("id_b"))
      }),

    // Canonical-corpus materialization — the dedup pipeline's actual
    // deliverable: detect near-dup pairs (q61 machinery) → cluster (q6a
    // machinery) → drop every clustered document except its cluster
    // representative (min id). The anti-join keys are (doc_id) only, so
    // at 100 TB the drop list is a narrow table and the corpus body never
    // shuffles — the survivors stream straight to the sink.
    QueryDef(
      "q6d_canonical_corpus",
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
          sym AS (SELECT id_a AS a, id_b AS b FROM jp
                  UNION ALL SELECT id_b, id_a FROM jp),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          comp AS (SELECT a AS doc_id, min(b) AS component
                   FROM reach GROUP BY a)
          SELECT d.doc_id, d.lang FROM documents d
          WHERE d.doc_id NOT IN
            (SELECT doc_id FROM comp WHERE doc_id <> component)
          ORDER BY d.doc_id"""),
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = jaccardPairsRaw(withShingles(d))
          .select(col("id_a"), col("id_b"))
        val drops = ConnectedComponents.run(pairs)
          .filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"))
        d.join(drops, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"))
          .orderBy(col("doc_id"))
      }),

    // The training-corpus pipeline end to end, one query — the deliverable
    // every piece above exists for: quality-gate (≥ 30 tokens) → exact
    // dedup (min doc_id per content hash) → near-dup drop (Jaccard
    // clusters, keep representative) → chunk survivors (50-token windows,
    // stride 40) → write chunks to a graft-doc table keyed by
    // doc_chunk → read the snapshot back and summarize. The oracle
    // replays the relational pipeline; the sink roundtrip is
    // content-identity (unique keys, upsert-resolved), so hash equality
    // also proves the store moved every chunk losslessly. Scale shape:
    // every stage is already individually proven (q51/q60/q6a/q5a/q77);
    // the composition adds no new shuffle beyond its parts, and the
    // corpus body still never shuffles (gate/dedup join on doc_id only).
    QueryDef(
      "q6e_corpus_build",
      Some(s"""WITH RECURSIVE $jaccardPairsCte,
          sym AS (SELECT id_a AS a, id_b AS b FROM jp
                  UNION ALL SELECT id_b, id_a FROM jp),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
          comp AS (SELECT a AS doc_id, min(b) AS component
                   FROM reach GROUP BY a),
          gate AS (SELECT doc_id, text FROM documents
                   WHERE len(string_split(text, ' ')) >= 30),
          exact AS (SELECT min(doc_id) AS keep_id
                    FROM gate GROUP BY sha256(text)),
          survivors AS (
            SELECT g.doc_id, g.text FROM gate g
            JOIN exact e ON g.doc_id = e.keep_id
            WHERE g.doc_id NOT IN
              (SELECT doc_id FROM comp WHERE doc_id <> component)),
          t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM survivors),
          st AS (SELECT doc_id, toks,
                   unnest(range(0, len(toks), 40)) AS start FROM t),
          ch AS (SELECT doc_id,
                   len(list_slice(toks, start + 1, start + 50)) AS n_tokens
                 FROM st)
          SELECT doc_id, COUNT(*) AS n_chunks,
            CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          FROM ch GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val d = docs(s, dir)
        val gate = d.filter(size(split(col("text"), " ")) >= 30)
          .select(col("doc_id"), col("text"))
        val exactKeep = gate.groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
        val drops = ConnectedComponents.run(
            jaccardPairsRaw(withShingles(d)).select(col("id_a"), col("id_b")))
          .filter(col("node") =!= col("component"))
          .select(col("node").as("doc_id"))
        val survivors = gate
          .join(exactKeep, Seq("doc_id"), "left_semi")
          .join(drops, Seq("doc_id"), "left_anti")
        val chunks = TextAnalysis.tokenChunks(survivors)
          .select(
            concat(col("doc_id"), lit("_"), col("chunk_idx")).as("chunk_key"),
            col("doc_id"), col("chunk_idx"),
            size(col("chunk_toks")).as("n_tokens"),
            array_join(col("chunk_toks"), " ").as("chunk_text"))
        val tbl = graft.TempDirs.create("graft_corpus")
        graft.connector.GraftDoc.write(chunks, "chunk_key", tbl, overwrite = true)
        graft.connector.GraftDoc.snapshot(s, tbl)
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("n_tokens")).as("total_tokens"))
          .orderBy(col("doc_id"))
      }),

    // Embedding-cosine near-dup, brute-force all-pairs ≥ 0.45 (the data's
    // top pair sits at ≈0.51, and there is a wide margin around the
    // threshold — see HashVectorSpec for the expression math). Cosine is
    // accumulated in index order as doubles on both engines → exact match.
    QueryDef(
      "q64_embedding_dedup",
      Some(embeddingPairsSql),
      (s, dir) => {
        val e = emb(s, dir)
        val a = e.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
        a.join(b, col("id_a") < col("id_b"))
          // round-9 quantize before the threshold test (matches epsPairs
          // and the shared oracle)
          .withColumn("c", round(VectorFunctions.cosine_sim(col("ea"), col("eb")), 9))
          .filter(col("c") >= 0.45)
          .select(col("id_a"), col("id_b"), round(col("c"), 4).as("cos"))
          .orderBy(col("id_a"), col("id_b"))
      }),

    // Bucketed embedding near-dup — q64's scale path, SAME oracle (so the
    // check proves zero recall loss at the threshold).
    //
    // Candidate generation is IVF-cell blocking with triangle-inequality
    // cell probing, reusing the q66 machinery: every vector joins its
    // nearest-centroid cell; each cell keeps its radius r_c = max member
    // distance; a vector probes every cell with ||v - c|| ≤ t + r_c
    // (unit vectors: ||x-y|| = sqrt(2-2cos)). For any pair (a,b) with
    // ||a-b|| ≤ t: ||b - c(a)|| ≤ ||b-a|| + ||a-c(a)|| ≤ t + r_c(a), so b
    // provably probes a's cell — recall is DETERMINISTICALLY exact, which
    // a hash-exact oracle requires.
    //
    // Why not hyperplane-LSH (the q62 pattern): at cos ≥ 0.45 the angle is
    // ~63°, so a random hyperplane agrees on a qualifying pair w.p. 0.649
    // vs 0.5 for an unrelated pair — measured on this data the pair
    // spectrum is continuous through the threshold (max non-pair 0.4494),
    // and no (bands, rows) config yields both ~1e-8 miss at 0.45 and
    // meaningful pruning. Banded sketches are for the high-similarity
    // regime (q62, J ≥ 0.7); the low-threshold dense regime needs an
    // exact blocker. On clustered real corpora the probe radius collapses
    // candidates to cell-local pairs; on structure-free data it degrades
    // gracefully toward all pairs — but through shuffled hash joins
    // blocked on cell, never a BroadcastNestedLoop, so the plan survives
    // inputs that no longer fit one executor.
    QueryDef(
      "q6c_embedding_dedup_bucketed",
      Some(embeddingPairsSql),
      (s, dir) =>
        epsPairs(emb(s, dir), 0.45)
          .select(col("id_a"), col("id_b"), round(col("c"), 4).as("cos"))
          .orderBy(col("id_a"), col("id_b"))),

    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023, arXiv:2303.09540):
    // cluster the embedding space (the q66 IVF cells), pick one
    // representative per cell (min vec_id — SemDeDup keeps one point per
    // semantic-duplicate group; the deterministic choice makes the oracle
    // exact), and drop every other member whose cosine to its cell's
    // representative clears the threshold. Different operator than q64:
    // near-dup PAIR generation compares all qualifying pairs; SemDeDup
    // compares each vector to ONE anchor per cell — O(N) comparisons
    // after assignment, the shape that scales to deduplicating web-crawl
    // embeddings. Scale: assignment is the usual broadcast + hash-agg
    // pass; the rep join is an equi join on cid against a √N-row
    // broadcast side; verdicts are row-local. Threshold 0.45 = the
    // corpus's near-dup line (q64), so drops actually occur on this data.
    QueryDef(
      "q6i_semantic_dedup",
      Some(s"""WITH ${SimilarityQueries.centSql},
        a0 AS (SELECT e.vec_id, e.embedding, c.cid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings e, cent c),
        a AS (SELECT vec_id, embedding, cid FROM a0 WHERE rn = 1),
        rep AS (SELECT cid, min(vec_id) AS rep_id FROM a GROUP BY cid),
        scored AS (SELECT a.vec_id, a.cid, r.rep_id,
                round(list_cosine_similarity(a.embedding::DOUBLE[], re.embedding::DOUBLE[]), 9) + 0 AS c
              FROM a JOIN rep r ON r.cid = a.cid
              JOIN embeddings re ON re.vec_id = r.rep_id)
        SELECT vec_id, cid, rep_id,
          CAST(round(c, 4) + 0 AS DOUBLE) + 0 AS cos_to_rep,
          (vec_id = rep_id OR c < 0.45) AS kept
        FROM scored ORDER BY vec_id"""),
      (s, dir) => {
        val e = emb(s, dir)
        val cent = SimilarityQueries.centroids(e)
        // nearest-cell assignment: the q66 argmax rule (round-9 quantized,
        // map-side-combining hash aggregate)
        val assign = e.crossJoin(broadcast(cent))
          .withColumn("cc",
            round(VectorFunctions.cosine_sim(col("embedding"), col("ce")), 9))
          .groupBy(col("vec_id"))
          .agg(
            max_by(col("cid"), struct(col("cc"), (-col("cid")).as("nc"))).as("cid"),
            first(col("embedding")).as("embedding"))
        // one representative per cell; its vector fetched by equi join
        // (√N rows — broadcast side of the member join)
        val rep = assign.groupBy(col("cid")).agg(min(col("vec_id")).as("rep_id"))
          .join(e.select(col("vec_id").as("rep_id"), col("embedding").as("rep_e")),
            Seq("rep_id"))
        assign
          .join(broadcast(rep), Seq("cid"))
          .withColumn("c",
            round(VectorFunctions.cosine_sim(col("embedding"), col("rep_e")), 9))
          .select(col("vec_id"), col("cid"), col("rep_id"),
            (round(col("c"), 4) + lit(0.0)).as("cos_to_rep"),
            (col("vec_id") === col("rep_id") || col("c") < 0.45).as("kept"))
          .orderBy(col("vec_id"))
      }),

    // LOSSLESS Jaccard self-join via prefix filtering (AllPairs/PPJoin —
    // Bayardo, Ma & Srikant, WWW 2007; Xiao et al., WWW 2008). q61/q62
    // bound the inverted-index join with a document-frequency CAP, which
    // is a recall trade (a pair whose every shared shingle is ultra-hot
    // is silently dropped). Prefix filtering keeps the bounded-join shape
    // with ZERO recall loss: order shingles globally by (df, shingle)
    // rarest-first; for J ≥ t=0.7, any qualifying pair must share ≥
    // ceil(t·|d|) shingles, so two docs with NO common shingle among each
    // one's first |d| - ceil(t·|d|) + 1 rarest cannot qualify — only
    // prefixes are indexed (~37% of postings, and the hottest shingles
    // land in almost nobody's prefix, which is what tames the hot-key
    // join). Candidates are then verified EXACTLY on full shingle sets
    // fetched by two narrow equi-joins.
    //
    // The oracle is the NAIVE UNCAPPED all-pairs join — the strongest
    // possible check: it proves the prefix index dropped nothing, which
    // the capped q61 oracle could not claim. Scale shape: one df agg, one
    // per-doc window (partitioned by doc, never global), a prefix-posting
    // self-join on shingle, and a candidate-count-bounded verify join.
    QueryDef(
      "q6r_prefix_jaccard_join",
      Some(s"""WITH d0 AS (
          SELECT doc_id, unnest($shinglesSql) AS sh FROM documents),
        sz AS (SELECT doc_id, count(*) AS n FROM d0 GROUP BY doc_id),
        pair AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM d0 a JOIN d0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        jp AS (
          SELECT id_a, id_b, inter * 1.0 / (sa.n + sb.n - inter) AS jac
          FROM pair
          JOIN sz sa ON sa.doc_id = id_a
          JOIN sz sb ON sb.doc_id = id_b
          WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.7)
        SELECT id_a, id_b, CAST(round(jac, 4) + 0 AS DOUBLE) AS jac
        FROM jp ORDER BY id_a, id_b"""),
      (s, dir) =>
        prefixJaccardPairs(withShingles(docs(s, dir)))
          .select(col("id_a"), col("id_b"), round(col("jac"), 4).as("jac"))
          .orderBy(col("id_a"), col("id_b")))
  ) :+ {
    // Exact duplicated-SUBSTRING spans (the ExactSubstr dedup of Lee et
    // al. 2021, "Deduplicating Training Data Makes Language Models
    // Better", arXiv:2107.06499, re-expressed relationally): every
    // maximal character span built from length-20 windows that occur
    // verbatim in >= 2 distinct documents, reported per document as
    // (span_start, span_len) with overlapping/adjacent windows merged.
    // Doc-level dedup (q60-q62) can't see a boilerplate paragraph pasted
    // into otherwise-distinct pages; this operator flags exactly those
    // characters for surgical removal.
    //
    // Scale shape (the suffix-array build of the paper is a single-node
    // construction; the distributed-relational equivalent is the L-gram
    // shuffle, kept narrow in two passes):
    //   pass 1: positions shuffle ONLY (doc_id, i, xxhash64(gram)) — 8-byte
    //           hashes, never the 20-char gram and never the text — and a
    //           count-distinct-docs agg finds cross-doc hashes;
    //   pass 2: the (rare) candidate positions re-join `documents` on
    //           doc_id to recover their gram STRINGS, which are grouped
    //           once more for the exact cross-doc verify — hash
    //           collisions can only ADD candidates, the string group
    //           removes them, so the result is exact, not probabilistic.
    //           Re-shuffling the corpus once (pass-2 join) costs ~1x
    //           corpus bytes vs ~20x for shuffling grams at every
    //           position, which is why the hash pre-pass exists.
    //   merge:  per-doc islands via lag/sum windows (partitioned by
    //           doc_id — never global). Windows [a,a+19], [b,b+19] merge
    //           iff b <= a + 20 (overlap or exact adjacency = one
    //           contiguous flagged region).
    // The oracle skips the hash pre-pass (pure optimization, identical
    // output) and replays the gram grouping + island merge directly.
    val L = 20
    QueryDef(
      "q6z_exact_substring_spans",
      Some(s"""WITH p AS (
          SELECT doc_id, i, substr(text, CAST(i AS INT), $L) AS gram
          FROM (SELECT doc_id, text,
                  unnest(generate_series(1, CAST(len(text) - ${L - 1} AS INT))) AS i
                FROM documents WHERE len(text) >= $L)),
        g AS (SELECT gram FROM p GROUP BY gram
              HAVING COUNT(DISTINCT doc_id) >= 2),
        c AS (SELECT p.doc_id, p.i FROM p JOIN g USING (gram)),
        b AS (SELECT doc_id, i,
                CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i) IS NULL
                       OR i > lag(i) OVER (PARTITION BY doc_id ORDER BY i) + $L
                     THEN 1 ELSE 0 END AS brk
              FROM c),
        isl AS (SELECT doc_id, i,
                  SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM b)
        SELECT doc_id, CAST(MIN(i) AS BIGINT) AS span_start,
               CAST(MAX(i) - MIN(i) + $L AS BIGINT) AS span_len
        FROM isl GROUP BY doc_id, island
        ORDER BY doc_id, span_start"""),
      (s, dir) => exactSubstringSpans(docs(s, dir), L))
  } :+ {
    // Corpus snapshot diff — the change-audit primitive between two
    // crawl/ingest versions: classify every doc_id as added / removed /
    // changed / unchanged. The 100 TB shape: each side is projected to
    // (doc_id, content_hash) BEFORE the full-outer join, so the only
    // shuffle moves 40-byte rows, never document bodies (hashes are
    // compared within-engine only, so Spark md5 vs DuckDB md5 parity is
    // never relied on). The "old" snapshot is derived deterministically
    // from the current corpus by the shared Knuth-hash bucketing —
    // bucket 0 withheld (→ added), bucket 1 text-perturbed (→ changed),
    // bucket 2 cloned under shifted ids into old only (→ removed) — so
    // the oracle can rebuild the identical pair of snapshots in SQL and
    // replay the whole classification per doc_id.
    QueryDef(
      "q94_snapshot_diff",
      Some("""WITH b AS (
          SELECT doc_id, text, (doc_id * 2654435761) % 16 AS bkt
          FROM documents),
        old AS (
          SELECT doc_id,
            CASE WHEN bkt = 1 THEN substr(text, 11) ELSE text END AS old_text
          FROM b WHERE bkt <> 0
          UNION ALL
          SELECT doc_id + 1000000, text || ' retired' FROM b WHERE bkt = 2),
        oh AS (SELECT doc_id, md5(old_text) AS h FROM old),
        nh AS (SELECT doc_id, md5(text) AS h FROM documents)
        SELECT COALESCE(nh.doc_id, oh.doc_id) AS doc_id,
          CASE WHEN oh.doc_id IS NULL THEN 'added'
               WHEN nh.doc_id IS NULL THEN 'removed'
               WHEN oh.h = nh.h THEN 'unchanged'
               ELSE 'changed' END AS status
        FROM nh FULL OUTER JOIN oh ON nh.doc_id = oh.doc_id
        ORDER BY doc_id"""),
      (s, dir) => {
        val b = docs(s, dir)
          .withColumn("bkt", pmod(col("doc_id") * 2654435761L, lit(16)))
        val old = b.filter(col("bkt") =!= 0)
          .select(col("doc_id"),
            when(col("bkt") === 1, expr("substring(text, 11)"))
              .otherwise(col("text")).as("old_text"))
          .unionAll(b.filter(col("bkt") === 2)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              concat(col("text"), lit(" retired")).as("old_text")))
        val oh = old.select(col("doc_id").as("o_id"), md5(col("old_text")).as("oh"))
        val nh = docs(s, dir)
          .select(col("doc_id").as("n_id"), md5(col("text")).as("nh"))
        nh.join(oh, col("n_id") === col("o_id"), "full_outer")
          .select(coalesce(col("n_id"), col("o_id")).as("doc_id"),
            when(col("o_id").isNull, "added")
              .when(col("n_id").isNull, "removed")
              .when(col("oh") === col("nh"), "unchanged")
              .otherwise("changed").as("status"))
          .orderBy(col("doc_id"))
      })
  } :+ {
    // Fuzzy record linkage — sorted-neighborhood Jaro–Winkler entity
    // resolution (Hernández & Stolfo 1995), the typo-tolerant cousin of
    // q5q's edit-distance dedup: each document's "record key" is its
    // first-8-token prefix (the name/address field of a real linkage),
    // records sort by (lang, key, doc_id), and each record is compared
    // only to its W=10 successors in sort order — exactly N·W candidate
    // pairs, a HARD corpus-linear bound. The round-8 shape blocked on
    // (lang, length(key)/4): O(100) blocks total, so block population —
    // and the within-block pair join — grew linearly with the corpus and
    // the verify grew quadratically (the suite's slowest query, with no
    // dial). Sorted-neighborhood is the classic fix: lexicographic
    // neighbors are where prefix-weighted Jaro–Winkler scores high, so
    // the window IS the blocking key (production runs multiple passes
    // over different sort keys to recover cross-prefix typos; W is the
    // recall/cost dial). Every candidate pair is scored by the native
    // [[graft.functions.StringSimilarity]] expression — compiled
    // per-pair byte loop, semantics pinned to DuckDB's
    // jaro_winkler_similarity so the oracle hash-compares raw scores.
    // Scale shape: the global sort rank comes from StableIds.assign
    // (range partition + per-partition counts — NO single-task global
    // window), the W successors come from one explode + equi join on
    // rank (N·W fixed-width rows, keys ≤ ~50 bytes — bodies never
    // shuffle), and Jaro–Winkler runs on candidates only.
    QueryDef(
      "q9k_record_linkage",
      Some("""WITH k AS (SELECT doc_id, lang,
               array_to_string((string_split(text, ' '))[1:8], ' ') AS key
              FROM documents),
        r AS (SELECT doc_id, lang, key,
               row_number() OVER (ORDER BY lang, key, doc_id) AS rn FROM k)
        SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
          GREATEST(a.doc_id, b.doc_id) AS id_b,
          round(jaro_winkler_similarity(a.key, b.key), 6) + 0 AS sim
        FROM r a JOIN r b
          ON b.rn BETWEEN a.rn + 1 AND a.rn + 10 AND a.lang = b.lang
        WHERE round(jaro_winkler_similarity(a.key, b.key), 6) >= 0.82
        ORDER BY id_a, id_b"""),
      (s, dir) =>
        sortedNeighborhoodLinkage(
          docs(s, dir).select(col("doc_id"), col("lang"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 8)).as("key"))))
  } :+ {
    // Dedup threshold profile — the pairwise-similarity histogram the 0.7
    // in q61/q62 is CHOSEN from: every co-occurring candidate pair's
    // exact shingle-Jaccard, bucketed to deciles, with the cumulative
    // "pairs you would merge at threshold ≥ t" column — the
    // corpus-shrinkage-vs-aggressiveness tuning curve (read bottom-up:
    // where the cumulative count elbows is where near-dup ends and
    // topical similarity begins). Shape: the pair machinery is q61's
    // (DF-capped postings, compiled i<j pair kernel, two narrow
    // shuffles); the histogram is a ≤10-row frame, and the cumulative
    // fold is the q9p triangle join on that frame — never a window.
    // Bucket boundaries are double-exact cross-engine because both
    // engines compute the same division and the same floor.
    QueryDef(
      "q9s_dedup_threshold_profile",
      Some(s"""WITH $pairCountsCte,
        j AS (SELECT LEAST(CAST(floor(inter * CAST(10 AS DOUBLE)
                  / (na + nb - inter)) AS INT), 9) AS bin,
                round(inter * CAST(1 AS DOUBLE) / (na + nb - inter), 9) + 0 AS jac
              FROM pc),
        h AS (SELECT bin, COUNT(*) AS n_pairs,
                round(CAST(SUM(CAST(jac AS DECIMAL(30,12))) AS DOUBLE)
                  / COUNT(*), 6) + 0 AS mean_jac
              FROM j GROUP BY bin)
        SELECT CAST(a.bin AS INT) AS bin, CAST(a.n_pairs AS BIGINT) AS n_pairs, a.mean_jac,
          CAST(SUM(b.n_pairs) AS BIGINT) AS cum_pairs_at_or_above
        FROM h a JOIN h b ON b.bin >= a.bin
        GROUP BY a.bin, a.n_pairs, a.mean_jac ORDER BY a.bin"""),
      (s, dir) => {
        val pc = pairCounts(withShingles(docs(s, dir)))
        val j = pc.select(
          least(floor(col("inter") * 10.0
            / (col("na") + col("nb") - col("inter"))).cast("int"), lit(9))
            .as("bin"),
          round(col("inter") * 1.0
            / (col("na") + col("nb") - col("inter")), 9).as("jac"))
        val h = j.groupBy(col("bin")).agg(
          count(lit(1)).as("n_pairs"),
          round(sum(col("jac").cast("decimal(30,12)")).cast("double")
            / count(lit(1)), 6).as("mean_jac"))
        val b = h.select(col("bin").as("b2"), col("n_pairs").as("np2"))
        h.join(broadcast(b), col("b2") >= col("bin"))
          .groupBy(col("bin"), col("n_pairs"), col("mean_jac"))
          .agg(sum(col("np2")).as("cum_pairs_at_or_above"))
          .select(col("bin"), col("n_pairs"), col("mean_jac"),
            col("cum_pairs_at_or_above"))
          .orderBy(col("bin"))
      })
  } :+ {
    // N-gram novelty profile — the memorization/templating risk signal
    // (Lee et al. 2021's dual reading: content whose grams occur nowhere
    // else is novel, content whose grams recur corpus-wide is template or
    // duplicate): per document, the fraction of its DISTINCT 3-gram
    // shingles with corpus document-frequency 1, plus its most-shared
    // gram's DF. The opposite end of q5j's boilerplate spectrum (DF >
    // 5%N) and threshold-free. Shape is the standard two-pass gram
    // pipeline: DF per distinct gram (shuffle carries grams + counts,
    // never bodies), joined back to the posting stream, one per-doc
    // aggregate; the ppm is integer floor-division so the compare is
    // exact.
    QueryDef(
      "qa3_novel_ngrams",
      Some(s"""WITH d0 AS (
          SELECT doc_id, unnest($shinglesSql) AS sh FROM documents),
        df AS (SELECT sh, COUNT(*) AS df FROM d0 GROUP BY sh),
        j AS (SELECT d0.doc_id, df.df FROM d0 JOIN df USING (sh))
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS novelty_ppm,
          CAST(MAX(df) AS BIGINT) AS max_df
        FROM j GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val posting = withShingles(docs(s, dir))
          .select(col("doc_id"), explode(col("sh")).as("sh"))
        val df = posting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        posting.join(df, Seq("sh"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"),
            max(col("df")).as("max_df"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            expr("(n_novel * 1000000) div n_grams").cast("long")
              .as("novelty_ppm"),
            col("max_df"))
          .orderBy(col("doc_id"))
      })
  } :+ {
    // Multi-pass sorted-neighborhood linkage — the recall dial of q9k,
    // run: single-pass SNM misses typo pairs whose keys diverge at the
    // FIRST character (they sort far apart); the standard fix (Hernández
    // & Stolfo's multi-pass) re-runs the window under a second sort key.
    // Pass 1 ranks by the key, pass 2 by its REVERSE (suffix-similar
    // keys become neighbors); candidates union (still ≤ 2·N·W, the same
    // hard corpus-linear bound), Jaro–Winkler verifies once per distinct
    // pair, and n_passes records which pairs ONLY the second pass found
    // — the measured marginal recall of the extra pass. The key is
    // NORMALIZED to its printable-ASCII projection (strip everything
    // outside 0x20-0x7E) rather than assumed ASCII: Spark's reverse()
    // works on code points while DuckDB's works on grapheme clusters,
    // and rank agreement additionally needs bytewise collation — on the
    // ASCII projection both reversals and both sort orders coincide by
    // construction, so a non-ASCII corpus can no longer silently
    // diverge engine vs oracle (round-9 advice). The '[^ -~]' class is
    // the same range literal in Java regex and RE2.
    QueryDef(
      "qa4_linkage_multipass",
      Some("""WITH k AS (SELECT doc_id, lang,
               regexp_replace(array_to_string((string_split(text, ' '))[1:8], ' '),
                 '[^ -~]', '', 'g') AS key
              FROM documents),
        ra AS (SELECT doc_id, lang, key,
                row_number() OVER (ORDER BY lang, key, doc_id) AS rn FROM k),
        ca AS (SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
                GREATEST(a.doc_id, b.doc_id) AS id_b
               FROM ra a JOIN ra b
                 ON b.rn BETWEEN a.rn + 1 AND a.rn + 10 AND a.lang = b.lang),
        rb AS (SELECT doc_id, lang, key,
                row_number() OVER (ORDER BY lang, reverse(key), doc_id) AS rn FROM k),
        cb AS (SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
                GREATEST(a.doc_id, b.doc_id) AS id_b
               FROM rb a JOIN rb b
                 ON b.rn BETWEEN a.rn + 1 AND a.rn + 10 AND a.lang = b.lang),
        cand AS (SELECT id_a, id_b, MAX(pa) + MAX(pb) AS n_passes FROM (
            SELECT id_a, id_b, 1 AS pa, 0 AS pb FROM ca
            UNION ALL SELECT id_a, id_b, 0 AS pa, 1 AS pb FROM cb)
          GROUP BY id_a, id_b),
        sc AS (SELECT c.id_a, c.id_b, c.n_passes,
                round(jaro_winkler_similarity(ka.key, kb.key), 6) + 0 AS sim
               FROM cand c JOIN k ka ON ka.doc_id = c.id_a
                           JOIN k kb ON kb.doc_id = c.id_b)
        SELECT id_a, id_b, sim, CAST(n_passes AS INT) AS n_passes
        FROM sc WHERE sim >= 0.82 ORDER BY id_a, id_b"""),
      (s, dir) => {
        val k = docs(s, dir).select(col("doc_id"), col("lang"),
          linkageKey(col("text")).as("key"))
        val ca = snmCandidates(k, col("key"), 10)
          .withColumn("pa", lit(1)).withColumn("pb", lit(0))
        val cb = snmCandidates(k, reverse(col("key")), 10)
          .withColumn("pa", lit(0)).withColumn("pb", lit(1))
        val cand = ca.unionByName(cb)
          .groupBy(col("id_a"), col("id_b"))
          .agg((max(col("pa")) + max(col("pb"))).as("n_passes"))
        cand
          .join(k.select(col("doc_id").as("id_a"), col("key").as("key_a")), "id_a")
          .join(k.select(col("doc_id").as("id_b"), col("key").as("key_b")), "id_b")
          .withColumn("sim",
            round(graft.functions.StringSimilarity
              .jaro_winkler(col("key_a"), col("key_b")), 6))
          .filter(col("sim") >= 0.82)
          .select(col("id_a"), col("id_b"), col("sim"),
            col("n_passes").cast("int").as("n_passes"))
          .orderBy(col("id_a"), col("id_b"))
      })
  } :+ {
    // Incremental NEAR-dup — the continuous-crawl gate q6b/q6g provide
    // for exact duplicates, extended to MinHash-LSH similarity: which
    // incoming documents (doc_id >= 250, the q6b snapshot convention)
    // are >= 0.7-Jaccard near-dups of something already ingested, and of
    // what. The snapshot side is a PERSISTED index built once per
    // snapshot (the q5i build/serve split): its DF > 200 hot-shingle
    // DROP list, its capped shingle sets, and its 32x4 LSH band buckets
    // all land in parquet, and the serve phase reads ONLY those files
    // plus the incoming batch — the base corpus is never re-shingled or
    // re-signed when a new batch arrives. The DF cap is computed over
    // the SNAPSHOT alone (the drop list is part of the index — an
    // incremental pipeline cannot re-count corpus-wide DF per batch),
    // and incoming docs filter their shingles through the same persisted
    // list, so both sides measure the same capped Jaccard; the oracle
    // mirrors exactly that base-only cap. Candidates are LSH bucket
    // collisions (incoming bands hash-join the persisted bucket table —
    // narrow ids, never bodies), verified by exact capped Jaccard, and
    // the best match per incoming doc is a single groupBy max(struct) —
    // no window, one shuffle keyed by doc_id. Banding recall at 0.7 with
    // 32 bands x 4 rows is certified by the shared-oracle comparison
    // itself (the q62 discipline: the oracle is the exact all-pairs
    // measure, so a missed pair fails the hash compare).
    val idxPath = QueryDef.materializePath(sfDir, "qa5_inc_minhash")
    QueryDef(
      "qa5_incremental_minhash",
      Some(incMinhashOracleSql()),
      (s, dir) => incrementalMinhash(s, docs(s, dir), idxPath))
  } :+ {
    // Index-generation merge — the compaction path qa5's build/serve
    // split needs to LIVE: absorb an ingested batch (docs 250-374) into
    // the v0 snapshot index as a new generation v1, then serve a later
    // probe batch (docs ≥ 375) through v1. The oracle is the full
    // REBUILD measure over snapshot ∪ batch (incMinhashOracleSql at
    // split 375): hash equality proves the incrementally-merged index
    // is indistinguishable from re-indexing from scratch — including
    // the subtle case the merge exists to get right, shingles whose DF
    // crosses the cap only once the batch lands (they must drop out of
    // EXISTING docs' sets, and those docs' signatures must change).
    // See [[mergeMinhashIndex]] for the touched-rows-only cost shape.
    val v0 = QueryDef.materializePath(sfDir, "qa8_idx_v0")
    val v1 = QueryDef.materializePath(sfDir, "qa8_idx_v1")
    QueryDef(
      "qa8_minhash_index_merge",
      Some(incMinhashOracleSql(375L)),
      (s, dir) => {
        val d = docs(s, dir)
        buildMinhashIndex(s, d.filter(col("doc_id") < 250), v0)
        mergeMinhashIndex(s,
          d.filter(col("doc_id") >= 250 && col("doc_id") < 375), v0, v1)
        serveMinhashBatch(s, d.filter(col("doc_id") >= 375), v1)
      })
  } :+ {
    // Serve under DELETES — the index lifecycle's last verb (qa5 build/
    // serve, qa8/q8r merge, here remove): every 5th snapshot doc is
    // tombstoned and must stop matching, WITHOUT touching the persisted
    // index — deleted docs fall out at the candidate stage through a
    // broadcast anti join on narrow ids (the q6w ANN-tombstone pattern
    // applied to the MinHash index). The drop list stays FROZEN at its
    // build-time cut: a delete lowers DF and could un-hot a shingle,
    // but capped sets no longer know which docs carried it —
    // re-admitting it needs the raw corpus, i.e. the next compaction.
    // The oracle states exactly that frozen-cap-restricted-to-live
    // measure (liveMidPred) — the between-compactions contract real
    // systems serve.
    val idx = QueryDef.materializePath(sfDir, "qaa_idx")
    QueryDef(
      "qaa_minhash_serve_deletes",
      Some(incMinhashOracleSql(250L, "a.doc_id % 5 <> 0")),
      (s, dir) => {
        val d = docs(s, dir)
        buildMinhashIndex(s, d.filter(col("doc_id") < 250), idx)
        val tomb = d.filter(col("doc_id") < 250 &&
          pmod(col("doc_id"), lit(5)) === 0).select(col("doc_id"))
        serveMinhashBatch(s, d.filter(col("doc_id") >= 250), idx, Some(tomb))
      })
  } :+ {
    // MinHash-index COMPACTION — the verb qaa explicitly defers to, and
    // the third index family to get it (graph qb5, IVF qb6, MinHash
    // here): the chain is build v0 (docs < 250) → merge v1 (250–374) →
    // tombstone every 5th MEMBER (both generations — the tombstone set
    // derives from the chain's own manifest, never the corpus). Between
    // compactions the drop list is frozen (qaa's contract: a delete
    // lowers DF but capped sets forgot who carried the dropped shingle);
    // compaction is where that debt is paid — and unlike qb5/qb6, which
    // re-run construction over the live corpus, this one never reads the
    // corpus at all: sets ∪ dropped reconstructs every tombstoned doc's
    // full shingle set, the DF table is debited, the drop list re-cut
    // (deletes only lower DF, so re-admission is the only direction),
    // and re-admitted shingles fold back into exactly the live docs that
    // carried them — emptied-set resurrection included. The oracle is
    // the from-scratch rebuild measure over the live corpus (DF cap
    // RE-COUNTED over live docs — the un-frozen half qaa couldn't have),
    // so the hash certifies compact(chain) ≡ build(live) through the
    // serve. Cost: O(tombstoned + touched) index rows; see
    // [[compactMinhashIndex]]; spec `MinhashCompactionPropSpec`.
    val v0 = QueryDef.materializePath(sfDir, "qb7_idx_v0")
    val v1 = QueryDef.materializePath(sfDir, "qb7_idx_v1")
    val v2 = QueryDef.materializePath(sfDir, "qb7_idx_v2")
    QueryDef(
      "qb7_minhash_compaction",
      Some(incMinhashOracleSql(375L, "a.doc_id % 5 <> 0", "doc_id % 5 <> 0")),
      (s, dir) => {
        val d = docs(s, dir)
        buildMinhashIndex(s, d.filter(col("doc_id") < 250), v0)
        mergeMinhashIndex(s,
          d.filter(col("doc_id") >= 250 && col("doc_id") < 375), v0, v1)
        val tomb = s.read.parquet(s"$v1/members")
          .filter(pmod(col("doc_id"), lit(5)) === 0)
        compactMinhashIndex(s, tomb, v1, v2)
        serveMinhashBatch(s, d.filter(col("doc_id") >= 375), v2)
      })
  } :+ {
    // Suffix-structure DELETE-COMPACTION — the lifecycle verb the
    // family was missing (build qau, streaming ingest-merge q8x, this):
    // deletes are the case ingest-only maintenance never faces, because
    // a removed document can make a suffix key VANISH from the corpus
    // and every dense rank above it must SHIFT down — the persisted
    // dictionary is wrong, not merely incomplete. The compaction works
    // from the structure alone (text never re-read): tombstoned docs'
    // position rows drop by a row-local anti join, the per-key counts
    // are debited by those same rows and zeroed keys vanish, and the
    // SURVIVING dictionary is renumbered — O(|dict|) renumber work,
    // never O(positions), the q8x asymmetry on the remove side. The
    // oracle replays qau's doubling rounds over the LIVE corpus only
    // (shared round CTEs, corpus-parameterized): hash equality
    // certifies the renumbered dictionary landed exactly on the
    // rebuilt dense ranks, global group sizes included. Tombstone rule
    // doc_id % 5 = 3 keeps the % 25 = 0 sample fully live. Design:
    // [[graft.operators.SuffixRanks.compactDelete]]; spec
    // `SuffixCompactionPropSpec`.
    val p = QueryDef.materializePath(sfDir, "qb8_suffix")
    QueryDef(
      "qb8_suffix_compaction",
      Some(graft.operators.SuffixRanks.compactionOracleSql("doc_id % 5 <> 3")),
      (s, dir) => {
        import graft.operators.SuffixRanks
        val d = docs(s, dir)
        // stage the q8x structure: row-local keys, counted dictionary
        SuffixRanks.suffixKeys(d)
          .write.mode("overwrite").parquet(s"$p/pos")
        val pos = s.read.parquet(s"$p/pos")
        pos.groupBy(col("key")).agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$p/counts")
        SuffixRanks.rankDict(s.read.parquet(s"$p/counts"))
          .write.mode("overwrite").parquet(s"$p/dict")
        // tombstones from the structure's own rows, never the corpus
        val tomb = pos.select(col("doc_id")).distinct()
          .filter(pmod(col("doc_id"), lit(5)) === 3)
        SuffixRanks.compactDelete(s, tomb, p, s"$p/v1")
        // the q8x audit measure, served from the compacted structure;
        // group sizes come from the maintained counts table, so the
        // corpus-sized pos frame is only touched by the sample filter
        // (SuffixRanks.auditServe — the counts-invariant serve tail)
        SuffixRanks.auditServe(s.read.parquet(s"$p/v1/pos"),
          s.read.parquet(s"$p/v1/dict"), s.read.parquet(s"$p/v1/counts"))
      })
  } :+
    // Distributed suffix-array construction by prefix doubling (Manber
    // & Myers 1990; Flick & Aluru SC'15) — the EXACT index behind
    // substring dedup at scale (Lee et al. 2021 builds on suffix
    // arrays; q6z's rolling-hash spans are the sketch cousin). Four
    // doubling rounds rank every corpus suffix by its first 16 chars:
    // each round is one narrow equi self-join on (doc_id, pos+gap)
    // plus a scale-safe dense rank (StableIds over the distinct key
    // set — the oracle's dense_rank() window IS the semantic spec that
    // plan implements). Suffix STRINGS never move — only integer ranks
    // shuffle, which is the whole trick. Output: per-round position
    // detail for sampled docs, with GLOBAL duplicate-group sizes on
    // every row — a drift in any round's corpus-wide rank assignment
    // moves sampled ranks or group sizes. Design + scale shape:
    // [[graft.operators.SuffixRanks]].
    QueryDef(
      "qau_suffix_ranks",
      Some(graft.operators.SuffixRanks.oracleSql),
      (s, dir) => graft.operators.SuffixRanks.audit(docs(s, dir))) :+
    // DBSCAN density-based clustering over the embedding space (Ester
    // et al. 1996, KDD) — the clustering family k-means (q58/q5k)
    // cannot express: clusters of arbitrary shape, an explicit NOISE
    // verdict, no preset k. Exact relational form at eps = cos 0.35,
    // MinPts = 4 (point inclusive): the eps-graph comes from
    // [[epsPairs]] — the triangle-inequality multi-probe cell-blocked
    // join that is provably COMPLETE (q6c's machinery, its exactness
    // already hash-proven against brute force), so DBSCAN's density
    // counts are exact, not recall-approximate. Core points (degree >=
    // MinPts) cluster via hook+shortcut connected components over
    // core-core edges (q6a's operator; the oracle's recursive closure
    // is the spec); border points take the MIN cluster label among
    // their core neighbors (the deterministic convention for DBSCAN's
    // order-dependent border tie); everything else is noise. Scale:
    // cell-blocked pair generation + narrow degree agg + O(log N) CC
    // rounds + one label join — no stage touches an N x N pass.
    QueryDef(
      "qaw_dbscan_clusters",
      Some("""WITH RECURSIVE p AS MATERIALIZED (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
          WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                b.embedding::DOUBLE[]), 9) >= 0.35),
        sym AS (SELECT id_a AS a, id_b AS b FROM p
                UNION ALL SELECT id_b, id_a FROM p),
        deg AS (SELECT a, COUNT(*) + 1 AS d FROM sym GROUP BY a),
        core AS (SELECT a FROM deg WHERE d >= 4),
        ce AS (SELECT s.a, s.b FROM sym s
               JOIN core c1 ON c1.a = s.a JOIN core c2 ON c2.a = s.b),
        reach(a, b) AS (
          SELECT a, a FROM core
          UNION
          SELECT r.a, s.b FROM reach r JOIN ce s ON r.b = s.a),
        comp AS (SELECT a, min(b) AS cl FROM reach GROUP BY a),
        bl AS (SELECT s.a, min(c2.cl) AS cl
               FROM sym s JOIN comp c2 ON c2.a = s.b
               WHERE s.a NOT IN (SELECT a FROM core)
               GROUP BY s.a)
        SELECT e.vec_id, CAST(COALESCE(d.d, 1) AS BIGINT) AS deg,
          CASE WHEN co.a IS NOT NULL THEN 'core'
               WHEN bl.a IS NOT NULL THEN 'border'
               ELSE 'noise' END AS role,
          CAST(COALESCE(cm.cl, bl.cl, -1) AS BIGINT) AS cluster
        FROM embeddings e
        LEFT JOIN deg d ON d.a = e.vec_id
        LEFT JOIN core co ON co.a = e.vec_id
        LEFT JOIN comp cm ON cm.a = e.vec_id
        LEFT JOIN bl ON bl.a = e.vec_id
        ORDER BY e.vec_id"""),
      (s, dir) => {
        val e = emb(s, dir)
        val pairs = graft.operators.IterationCheckpoint.cut(
          epsPairs(e, 0.35).select(col("id_a"), col("id_b")))
        dbscanRun(s, dir, e, pairs)
      }) :+
    // Maximal-independent-set dedup keep policy (Luby 1986) over the
    // Jaccard-0.7 near-dup graph — the third keep rule of the dedup
    // family: q60/q62 keep min-id per duplicate group, q6d keeps one
    // canonical per CLUSTER; an MIS keeps a MAXIMAL set of documents
    // no two of which are near-dups — strictly more corpus survives
    // under the same no-dup invariant, and every drop is witnessed by
    // a kept neighbor. Deterministic Luby rounds (qao's id-algebra
    // priorities, distinct by construction), leftovers an explicit
    // 'undecided' status; per-row decided_round certifies WHICH round
    // decided every document, so the hash pins all four rounds.
    // Design + scale shape: [[graft.operators.LubyMis]].
    QueryDef(
      "qay_mis_keep_policy",
      Some("WITH " + graft.operators.LubyMis.oracleSql(
        jaccardPairsCte, "SELECT doc_id FROM documents")),
      (s, dir) => graft.operators.LubyMis.run(
        docs(s, dir).select(col("doc_id")), jaccardPairEdges(s, dir))) :+
    // One-to-one record linking by parallel local-max matching (Preis
    // 1999) — the ASSIGNMENT step q9k/qa4 stop short of: candidate
    // pairs score many-to-many, but entity resolution must link each
    // record at most once, greedily preferring higher similarity. A
    // pair locks iff it is the best incident pair of BOTH endpoints
    // (priority sim DESC, ids ASC — total per vertex), which
    // parallelizes the inherently-serial greedy scan; four rounds
    // unrolled, leftovers an explicit 'open' status, and pairs that
    // lost an endpoint report 'dropped' — the full disposition of
    // every candidate pair is in the hash. Input pairs are exactly
    // q9k's sorted-neighborhood Jaro-Winkler candidates (the oracle
    // re-derives them, keeping the two queries pinned together).
    // Design + scale shape: [[graft.operators.LocalMaxMatching]].
    QueryDef(
      "qb0_linkage_matching",
      Some("WITH " + graft.operators.LocalMaxMatching.oracleSql(
        """k AS (SELECT doc_id, lang,
               array_to_string((string_split(text, ' '))[1:8], ' ') AS key
              FROM documents),
        r AS (SELECT doc_id, lang, key,
               row_number() OVER (ORDER BY lang, key, doc_id) AS rn FROM k),
        p0 AS MATERIALIZED (
          SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
            GREATEST(a.doc_id, b.doc_id) AS id_b,
            round(jaro_winkler_similarity(a.key, b.key), 6) + 0 AS sim
          FROM r a JOIN r b
            ON b.rn BETWEEN a.rn + 1 AND a.rn + 10 AND a.lang = b.lang
          WHERE round(jaro_winkler_similarity(a.key, b.key), 6) >= 0.82)""")),
      (s, dir) => graft.operators.LocalMaxMatching.run(
        sortedNeighborhoodLinkage(
          docs(s, dir).select(col("doc_id"), col("lang"),
            concat_ws(" ", slice(split(col("text"), " "), 1, 8))
              .as("key"))))) :+
    // Single-linkage dendrogram LEVEL SETS (Sibson 1973's SLINK object,
    // computed as threshold sweep): single-linkage clustering at cut
    // height t is exactly connected components over the pairs with
    // similarity >= t, so sweeping t materializes the dendrogram's
    // level sets — the CLUSTER-level tuning curve q9s's pairwise
    // histogram cannot show. The sweep spans both modes of the pair
    // distribution (this corpus is bimodal: ~11.5k incidental
    // weak-overlap pairs under jac 0.1, 25 true near-dups above 0.9),
    // so the output EXHIBITS single-linkage's chaining failure: at low
    // cuts the weak pairs chain most of the corpus into one giant
    // cluster (max_cluster ≈ n_docs_linked), and only high cuts
    // recover the true duplicate families — the reason production
    // dedup picks thresholds from cluster-level curves, not pair
    // counts. Shape: the DF-capped candidate pair set (q9s's) is
    // generated ONCE and lineage-cut; each level is a filter + the
    // hook+shortcut CC operator (O(log N) rounds) + three narrow aggs.
    // The oracle replays every level's closure recursively.
    {
      val thresholds = Seq(2, 5, 8, 70, 90)
      QueryDef(
        "qb2_linkage_dendrogram",
        Some {
          val levels = thresholds.map { t =>
            s"""e$t AS MATERIALIZED (
               |  SELECT id_a, id_b FROM pcj WHERE jac >= $t / 100.0),
               |sym$t AS (SELECT id_a AS a, id_b AS b FROM e$t
               |          UNION ALL SELECT id_b, id_a FROM e$t),
               |reach$t(a, b) AS (
               |  SELECT a, a FROM (SELECT DISTINCT a FROM sym$t)
               |  UNION
               |  SELECT r.a, s.b FROM reach$t r JOIN sym$t s ON r.b = s.a),
               |comp$t AS (SELECT a, min(b) AS c FROM reach$t GROUP BY a),
               |lv$t AS (SELECT $t AS thr_pct,
               |  (SELECT COUNT(*) FROM e$t) AS n_pairs,
               |  (SELECT COUNT(*) FROM comp$t) AS n_docs_linked,
               |  (SELECT COUNT(DISTINCT c) FROM comp$t) AS n_clusters,
               |  (SELECT COALESCE(MAX(n), 0) FROM (
               |     SELECT COUNT(*) AS n FROM comp$t GROUP BY c))
               |    AS max_cluster)""".stripMargin
          }.mkString(",\n")
          val sel = thresholds.map(t => s"SELECT * FROM lv$t")
            .mkString(" UNION ALL ")
          // pairCountsCte wraps || concats across lines starting with
          // '|' — keep it OUTSIDE the stripMargin blocks (LubyMis rule)
          s"WITH RECURSIVE $pairCountsCte,\n" +
            "pcj AS MATERIALIZED (SELECT id_a, id_b, " +
            "inter * 1.0 / (na + nb - inter) AS jac FROM pc),\n" + levels +
            s"""\nSELECT CAST(thr_pct AS INT) AS thr_pct,
               |  CAST(n_pairs AS BIGINT) AS n_pairs,
               |  CAST(n_docs_linked AS BIGINT) AS n_docs_linked,
               |  CAST(n_clusters AS BIGINT) AS n_clusters,
               |  CAST(max_cluster AS BIGINT) AS max_cluster
               |FROM ($sel) ORDER BY thr_pct""".stripMargin
        },
        (s, dir) => {
          val pairs = graft.operators.IterationCheckpoint.cut(
            pairCounts(withShingles(docs(s, dir)))
              .withColumn("jac", col("inter") * 1.0
                / (col("na") + col("nb") - col("inter")))
              .select(col("id_a"), col("id_b"), col("jac")))
          def level(t: Int): DataFrame = {
            val e = pairs.filter(col("jac") >= lit(t) / 100.0)
              .select(col("id_a"), col("id_b"))
            val comp = graft.operators.ConnectedComponents.run(e)
            val grp = comp.groupBy(col("component"))
              .agg(count(lit(1)).as("n"))
            e.agg(count(lit(1)).as("n_pairs"))
              .crossJoin(comp.agg(count(lit(1)).as("n_docs_linked")))
              .crossJoin(grp.agg(count(lit(1)).as("n_clusters"),
                coalesce(max(col("n")), lit(0L)).as("max_cluster")))
              .select(lit(t).as("thr_pct"),
                col("n_pairs").cast("long").as("n_pairs"),
                col("n_docs_linked").cast("long").as("n_docs_linked"),
                col("n_clusters").cast("long").as("n_clusters"),
                col("max_cluster").cast("long").as("max_cluster"))
          }
          // the five levels are INDEPENDENT CC chains of micro-stage jobs
          // at ~0.1 task occupancy (JobProfile `occ=`) — overlapping a few of
          // them from driver threads back-fills each other's scheduling
          // gaps (guide §2.6); each level's own rounds stay sequential,
          // and the output union keeps the deterministic threshold order.
          // With chains sharing the cores, size-targeted AQE coalescing
          // stops them fighting over tiny partitions (measured 9.5→7.3 s;
          // the same flag is a REGRESSION for lone chains — see
          // ConnectedComponents.runCounted's note)
          graft.operators.AqeConf.coalesceBySize(s) {
            graft.operators.DriverPar.map(thresholds)(level)
          }.reduce(_ unionByName _).orderBy(col("thr_pct"))
        })
    }

  private def dbscanRun(s: SparkSession, dir: String,
      e: DataFrame, pairs: DataFrame): DataFrame = {
        val sym = pairs.unionByName(pairs.select(col("id_b").as("id_a"),
          col("id_a").as("id_b")))
        val deg = sym.groupBy(col("id_a").as("node"))
          .agg((count(lit(1)) + 1).as("deg"))
        val core = deg.filter(col("deg") >= 4).select(col("node"))
        val coreEdges = pairs
          .join(core.select(col("node").as("id_a")), Seq("id_a"), "semi")
          .join(core.select(col("node").as("id_b")), Seq("id_b"), "semi")
        // CC over core-core edges; isolated cores label themselves
        val cc = graft.operators.ConnectedComponents.run(coreEdges)
        val comp = core.join(cc, Seq("node"), "left")
          .select(col("node"), coalesce(col("component"), col("node")).as("cl"))
        val borderLab = sym
          .join(comp.select(col("node").as("id_b"), col("cl")), Seq("id_b"))
          .join(core.select(col("node").as("id_a")), Seq("id_a"), "anti")
          .groupBy(col("id_a").as("node")).agg(min(col("cl")).as("bcl"))
        e.select(col("vec_id"))
          .join(deg.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
          .join(comp.select(col("node").as("vec_id"), col("cl")),
            Seq("vec_id"), "left")
          .join(borderLab.withColumnRenamed("node", "vec_id"),
            Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("deg"), lit(1L)).cast("long").as("deg"),
            when(col("cl").isNotNull, "core")
              .when(col("bcl").isNotNull, "border")
              .otherwise("noise").as("role"),
            coalesce(col("cl"), col("bcl"), lit(-1L)).cast("long")
              .as("cluster"))
          .orderBy(col("vec_id"))
  }

  /** qa5's engine on any (doc_id, text) frame — exposed (with the split
    * id and DF cap as dials) for the property spec, which replays random
    * corpora against a driver-side brute-force reference. See the qa5
    * QueryDef comment for the build/serve design. */
  private[graft] def incrementalMinhash(s: SparkSession, d: DataFrame,
      idxPath: String, split: Long = 250L, dfCap: Long = 200L): DataFrame = {
    buildMinhashIndex(s, d.filter(col("doc_id") < split), idxPath, dfCap)
    serveMinhashBatch(s, d.filter(col("doc_id") >= split), idxPath)
  }

  /** 32 bands x 4 rows over a k=128 signature — the q62 banding. */
  private def minhashBands(sets: DataFrame, idAs: String): DataFrame =
    sets.select(col("doc_id"),
        HashExpressions.minhash_signature(col("sh"), k = 128).as("sig"))
      .select(col("doc_id").as(idAs),
        explode(transform(sequence(lit(0), lit(31)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * 4 + 1, lit(4))).as("bh"))))
          .as("bb"))
      .select(col(idAs), col("bb.band").as("band"), col("bb.bh").as("bh"))

  /** qa5 BUILD half: persist the snapshot's drop list, capped shingle
    * sets, and LSH band buckets — runs once per snapshot, amortized over
    * every batch [[serveMinhashBatch]] answers. Two more frames make the
    * index COMPACTABLE (qb7) without re-reading the corpus: `members`
    * (the id manifest — a doc whose every shingle is hot, or that is too
    * short to shingle, appears in no other frame yet is a member) and
    * `dropped` (the complement postings: for each doc, the hot shingles
    * its capped set lost — sets ∪ dropped is the doc's FULL distinct
    * shingle set, which is exactly what a later delete-compaction needs
    * to subtract from the DF table and to re-admit un-hotted shingles;
    * its size is Σ df over hot shingles, the hottest slice only). */
  private[graft] def buildMinhashIndex(s: SparkSession, base: DataFrame,
      idxPath: String, dfCap: Long = 200L): Unit = {
    // ONE shingle pass: the posting frame feeds three index files (dfs,
    // dropped, sets) — materialize it once instead of re-running the
    // corpus explode per consumer (guide §1.2: don't compute things
    // three times)
    val basePosting = graft.operators.IterationCheckpoint.cut(
      withShingles(base).select(col("doc_id"), explode(col("sh")).as("sh")))
    // the FULL document-frequency table is part of the index (narrow:
    // shingle + count) — it is what lets a later merge decide which
    // shingles cross the cap without re-counting the snapshot (qa8)
    basePosting.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$idxPath/dfs")
    s.read.parquet(s"$idxPath/dfs")
      .filter(col("df") > dfCap).select(col("sh"))
      .write.mode("overwrite").parquet(s"$idxPath/hot")
    val hotR = s.read.parquet(s"$idxPath/hot")
    // members ⊥ dropped ⊥ sets once `hot` exists — overlap the three
    // independent write chains (guide §2.6); buckets waits on sets
    graft.operators.DriverPar.map(Seq(
      () => base.select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$idxPath/members"),
      () => basePosting.join(broadcast(hotR), Seq("sh"), "left_semi")
        .write.mode("overwrite").parquet(s"$idxPath/dropped"),
      () => basePosting.join(broadcast(hotR), Seq("sh"), "left_anti")
        .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))
        .write.mode("overwrite").parquet(s"$idxPath/sets")))(_.apply())
    minhashBands(s.read.parquet(s"$idxPath/sets"), "mid")
      .write.mode("overwrite").parquet(s"$idxPath/buckets")
  }

  /** qa8: absorb an ingested batch into a persisted snapshot index —
    * a new index GENERATION at `newPath`, bit-equivalent to rebuilding
    * from scratch over snapshot ∪ batch (the property the oracle and
    * spec check), at the cost of the batch plus the affected index rows:
    *
    *   - DF table: old counts + the batch's counts (full outer on the
    *     narrow (sh, df) frame — never re-counts the snapshot);
    *   - drop list: recut from the merged DF table. Ingest is
    *     append-only, so DF only GROWS — shingles can cross the cap
    *     (newly hot) but never return, which is what makes the set fix
    *     below a pure removal;
    *   - sets: existing sets lose newly-hot shingles ROW-LOCALLY
    *     (array_except against the newly-hot list folded to one
    *     broadcast row); batch docs' sets are capped by the merged drop
    *     list; sets emptied by the fix drop (matching what a rebuild
    *     would do — their every shingle is hot);
    *   - buckets: re-signed ONLY for changed rows (a set that lost a
    *     shingle has a new signature); unchanged docs keep their old
    *     bucket rows via a narrow id anti join.
    *
    * At 100 TB this is the compaction path: the daily merge touches the
    * batch plus the (few) boilerplate-crossing rows, not the corpus. */
  private[graft] def mergeMinhashIndex(s: SparkSession, delta: DataFrame,
      oldPath: String, newPath: String, dfCap: Long = 200L): Unit = {
    s.read.parquet(s"$oldPath/members")
      .unionByName(delta.select(col("doc_id")))
      .write.mode("overwrite").parquet(s"$newPath/members")
    // one shingle pass over the batch: the posting feeds the DF delta,
    // the capped sets AND the dropped postings (was re-exploded per use)
    val deltaPosting = graft.operators.IterationCheckpoint.cut(
      withShingles(delta)
        .select(col("doc_id"), explode(col("sh")).as("sh")))
    val deltaDf = deltaPosting.groupBy(col("sh")).agg(count(lit(1)).as("ddf"))
    s.read.parquet(s"$oldPath/dfs")
      .join(deltaDf, Seq("sh"), "full_outer")
      .select(col("sh"),
        (coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L))).as("df"))
      .write.mode("overwrite").parquet(s"$newPath/dfs")
    s.read.parquet(s"$newPath/dfs")
      .filter(col("df") > dfCap).select(col("sh"))
      .write.mode("overwrite").parquet(s"$newPath/hot")
    val hotR = s.read.parquet(s"$newPath/hot")
    // shingles that crossed the cap in THIS merge, folded to one row
    val nhArr = hotR
      .join(s.read.parquet(s"$oldPath/hot"), Seq("sh"), "left_anti")
      .agg(sort_array(collect_list(col("sh"))).as("nh"))
    // the row-local set fix feeds FOUR consumers (sets, dropped,
    // changed-ids, re-sign) — one materialization instead of four
    // re-reads of old sets + re-fixes
    val fixed = graft.operators.IterationCheckpoint.cut(
      s.read.parquet(s"$oldPath/sets")
        .crossJoin(broadcast(nhArr))
        .select(col("doc_id"), array_except(col("sh"), col("nh")).as("sh"),
          array_intersect(col("sh"), col("nh")).as("removed"))
        .withColumn("changed", size(col("removed")) > 0))
    val deltaSets = deltaPosting
      .join(broadcast(hotR), Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))
    // sets ⊥ dropped ⊥ buckets once `fixed`/`hotR` exist — overlap the
    // three write chains (guide §2.6: independent actions back-fill each
    // other's scheduling gaps; these are micro-stage jobs)
    graft.operators.DriverPar.map(Seq(
      () => fixed.filter(size(col("sh")) > 0).select(col("doc_id"), col("sh"))
        .unionByName(deltaSets)
        .write.mode("overwrite").parquet(s"$newPath/sets"),
      // complement postings stay exact across the merge: shingles the fix
      // removed from existing sets move over (a row per (doc, newly-hot
      // shingle) — emptied sets included), delta docs contribute their
      // merged-hot shingles, and the old rows carry (merge is append-only,
      // so a dropped shingle can never un-hot here)
      () => s.read.parquet(s"$oldPath/dropped")
        .unionByName(fixed.filter(col("changed"))
          .select(col("doc_id"), explode(col("removed")).as("sh")))
        .unionByName(deltaPosting.join(broadcast(hotR), Seq("sh"), "left_semi"))
        .write.mode("overwrite").parquet(s"$newPath/dropped"),
      // re-sign only changed + new rows; keep unchanged bucket rows as-is
      () => s.read.parquet(s"$oldPath/buckets")
        .join(broadcast(fixed.filter(col("changed"))
          .select(col("doc_id").as("mid"))), Seq("mid"), "left_anti")
        .unionByName(minhashBands(
          fixed.filter(col("changed") && size(col("sh")) > 0)
            .select(col("doc_id"), col("sh"))
            .unionByName(deltaSets), "mid"))
        .write.mode("overwrite").parquet(s"$newPath/buckets")))(_.apply())
    ()
  }

  /** qb7: fold tombstones OUT of a persisted index — the compaction qaa
    * defers to ("re-admitting an un-hotted shingle requires the raw
    * corpus, i.e. the next compaction"). This one beats that bound: the
    * CORPUS IS NEVER READ. sets ∪ dropped is each doc's full distinct
    * shingle set, so the compaction (1) subtracts the tombstoned docs'
    * contributions from the DF table, (2) re-cuts the drop list — deletes
    * only LOWER DF, so the new hot list is a subset of the old and the
    * difference is the re-admission set, (3) folds each live doc's
    * re-admitted dropped postings back into its capped set ROW-LOCALLY —
    * including resurrecting docs the merge dropped as emptied (their
    * whole set lives in `dropped`), and (4) re-signs ONLY the docs that
    * gained shingles, keeping everyone else's bucket rows. Cost:
    * O(tombstoned + touched) index rows — never the corpus, never the
    * unaffected members. The result is frame-for-frame identical to
    * [[buildMinhashIndex]] over the live corpus
    * (`MinhashCompactionPropSpec`), which is what qb7's oracle certifies
    * through the serve measure. */
  private[graft] def compactMinhashIndex(s: SparkSession, tombs: DataFrame,
      oldPath: String, newPath: String, dfCap: Long = 200L,
      tombCount: Option[Long] = None): Unit = {
    import graft.operators.Tombstones
    val tombIds = tombs.select(col(tombs.columns.head).as("doc_id"))
    // the tombstones-vs-corpus contract (the SuffixRanks.compactDelete
    // shape, MinHash edition): one count decides the regime for every
    // join below — broadcast while the id set fits, shuffle-hash
    // sharded by id past Tombstones.MaxBroadcast (the degrade path
    // that replaced round-14's refusal). The per-micro-batch fold
    // (qd5) threads its caller-known batch cardinality to skip the
    // count action entirely.
    val nTomb = Some(tombCount.getOrElse(tombIds.count()))
    Tombstones.antiJoin(s.read.parquet(s"$oldPath/members"),
        "doc_id", tombIds, nTomb)
      .write.mode("overwrite").parquet(s"$newPath/members")
    // full shingle sets of the tombstoned docs, from the index alone
    val tombPosting = Tombstones.semiJoin(s.read.parquet(s"$oldPath/sets"),
        "doc_id", tombIds, nTomb)
      .select(col("doc_id"), explode(col("sh")).as("sh"))
      .unionByName(Tombstones.semiJoin(
        s.read.parquet(s"$oldPath/dropped"), "doc_id", tombIds, nTomb))
    val tombDf = tombPosting.groupBy(col("sh")).agg(count(lit(1)).as("tdf"))
    s.read.parquet(s"$oldPath/dfs")
      .join(tombDf, Seq("sh"), "left")
      .select(col("sh"), (col("df") - coalesce(col("tdf"), lit(0L))).as("df"))
      .filter(col("df") > 0) // a shingle no live doc carries leaves the table
      .write.mode("overwrite").parquet(s"$newPath/dfs")
    s.read.parquet(s"$newPath/dfs")
      .filter(col("df") > dfCap).select(col("sh"))
      .write.mode("overwrite").parquet(s"$newPath/hot")
    // the re-admission set: hot before, no longer hot over the live DF
    val readmitted = s.read.parquet(s"$oldPath/hot")
      .join(s.read.parquet(s"$newPath/hot"), Seq("sh"), "left_anti")
    val liveDropped = Tombstones.antiJoin(
      s.read.parquet(s"$oldPath/dropped"), "doc_id", tombIds, nTomb)
    val gains = liveDropped.join(broadcast(readmitted), Seq("sh"))
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("gain"))
    val liveSets = Tombstones.antiJoin(
      s.read.parquet(s"$oldPath/sets"), "doc_id", tombIds, nTomb)
    // outer on doc_id: a gains-only row is a RESURRECTED doc (its capped
    // set emptied at some merge's cut and every shingle sat in dropped).
    // Materialized once — it feeds sets, changed-ids and the re-sign.
    val fixedSets = graft.operators.IterationCheckpoint.cut(
      liveSets.join(gains, Seq("doc_id"), "outer")
        .select(col("doc_id"),
          when(col("gain").isNull, col("sh"))
            .when(col("sh").isNull, col("gain"))
            .otherwise(array_union(col("sh"), col("gain"))).as("sh"),
          col("gain").isNotNull.as("changed")))
    // sets ⊥ dropped ⊥ buckets from here — overlap the write chains
    graft.operators.DriverPar.map(Seq(
      () => fixedSets.select(col("doc_id"), col("sh"))
        .write.mode("overwrite").parquet(s"$newPath/sets"),
      () => liveDropped.join(broadcast(readmitted), Seq("sh"), "left_anti")
        .write.mode("overwrite").parquet(s"$newPath/dropped"),
      () => Tombstones.antiJoin(s.read.parquet(s"$oldPath/buckets"),
          "mid", tombIds.select(col("doc_id").as("mid")), nTomb)
        .join(broadcast(fixedSets.filter(col("changed"))
          .select(col("doc_id").as("mid"))), Seq("mid"), "left_anti")
        .unionByName(minhashBands(
          fixedSets.filter(col("changed")).select(col("doc_id"), col("sh")),
          "mid"))
        .write.mode("overwrite").parquet(s"$newPath/buckets")))(_.apply())
    ()
  }

  /** qa5 SERVE half: screen an incoming (doc_id, text) batch against a
    * [[buildMinhashIndex]]-persisted snapshot — reads ONLY the index
    * files plus the batch; the snapshot corpus is never re-shingled. */
  private[graft] def serveMinhashBatch(s: SparkSession, incoming: DataFrame,
      idxPath: String, tombstones: Option[DataFrame] = None): DataFrame = {
    val hotR = s.read.parquet(s"$idxPath/hot")
    val baseSetsR = s.read.parquet(s"$idxPath/sets")
    val deltaSets = withShingles(incoming)
      .select(col("doc_id"), explode(col("sh")).as("sh"))
      .join(broadcast(hotR), Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(collect_set(col("sh")).as("sh"))
    val cand0 = minhashBands(deltaSets, "doc_id")
      .join(s.read.parquet(s"$idxPath/buckets"), Seq("band", "bh"))
      .select(col("doc_id"), col("mid")).distinct()
    // serve-time deletes (qaa): deleted snapshot docs drop out at the
    // CANDIDATE stage through a tombstone anti join on narrow ids — the
    // q6w pattern (broadcast while the set fits, shuffle-hash sharded
    // past Tombstones.MaxBroadcast). The index frames themselves are
    // untouched: the drop list stays FROZEN at its build/merge-time cut
    // (a delete lowers DF, which could un-hot a shingle, but the capped
    // sets no longer know which docs carried it — re-admitting it
    // requires the raw corpus, i.e. the next compaction/rebuild).
    // Serving against the frozen-cap measure restricted to live docs is
    // exactly the contract real systems run between compactions, and it
    // is what the oracle states.
    val cand = tombstones.fold(cand0)(t => graft.operators.Tombstones
      .antiJoin(cand0, "mid", t.select(col(t.columns.head).as("mid"))))
    val verified = cand
      .join(deltaSets.withColumnRenamed("sh", "sh_q"), "doc_id")
      .join(baseSetsR.select(col("doc_id").as("mid"),
        col("sh").as("sh_i")), "mid")
      .withColumn("jac",
        size(array_intersect(col("sh_q"), col("sh_i"))) * 1.0 /
          size(array_union(col("sh_q"), col("sh_i"))))
      .filter(col("jac") >= 0.7)
    verified.groupBy(col("doc_id"))
      .agg(max(struct(col("jac"), negate(col("mid")).as("nm"),
        col("mid"))).as("b"),
        count(lit(1)).as("n_cand"))
      .select(col("doc_id"), col("b.mid").as("match_id"),
        round(col("b.jac"), 4).as("jac"), col("n_cand"))
      .orderBy(col("doc_id"))
  }

  /** The exact live anti join — SHARED VERBATIM by qb9 (batch counting-
    * Bloom gate) and qc0 (its streaming twin: the same filter maintained
    * as versioned state under CDC inserts AND deletes): one oracle text
    * across both is the machine-checked equivalence claim (the q5s/q8z
    * discipline). Live set = snapshot minus the every-7th retraction
    * sweep; output = incoming docs novel against it. */
  private[graft] val countingBloomOracleSql: String =
    """SELECT d.doc_id, d.lang FROM documents d
        WHERE d.doc_id >= 250
          AND sha256(d.text) NOT IN (
            SELECT sha256(text) FROM documents
            WHERE doc_id < 250 AND doc_id % 7 <> 0)
        ORDER BY d.doc_id"""

  /** Exact incremental near-dup measure — the shared oracle of qa5 AND
    * its streaming serve twin (q8q): for every incoming doc (>= 250),
    * the best snapshot match under the SNAPSHOT-capped Jaccard (DF cap
    * counted over base docs only — the drop list is part of the index).
    * Sharing one exact all-pairs oracle across the batch serve and the
    * streaming serve is the equivalence claim, machine-checked. */
  private[graft] def incMinhashOracleSql(split: Long = 250L,
      liveMidPred: String = "TRUE", capPred: String = "TRUE"): String =
    s"""WITH t0 AS (
          SELECT doc_id, unnest($shinglesSql) AS sh FROM documents),
        hot AS (SELECT sh FROM t0 WHERE doc_id < $split AND ($capPred)
                GROUP BY sh HAVING count(*) > 200),
        d AS (SELECT doc_id, sh FROM t0
              WHERE sh NOT IN (SELECT sh FROM hot)),
        sz AS (SELECT doc_id, count(*) AS n FROM d GROUP BY doc_id),
        pair AS (SELECT a.doc_id AS mid, b.doc_id AS doc_id,
                  count(*) AS inter
                 FROM d a JOIN d b ON a.sh = b.sh
                 WHERE a.doc_id < $split AND b.doc_id >= $split
                   AND ($liveMidPred)
                 GROUP BY 1, 2),
        jd AS (SELECT p.doc_id, p.mid,
                p.inter * 1.0 / (sa.n + sb.n - p.inter) AS jac
               FROM pair p
               JOIN sz sa ON sa.doc_id = p.mid
               JOIN sz sb ON sb.doc_id = p.doc_id
               WHERE p.inter * 1.0 / (sa.n + sb.n - p.inter) >= 0.7),
        best AS (SELECT doc_id, mid, jac,
                  row_number() OVER (PARTITION BY doc_id
                    ORDER BY jac DESC, mid) AS rn,
                  COUNT(*) OVER (PARTITION BY doc_id) AS n_cand
                 FROM jd)
        SELECT doc_id, mid AS match_id,
          CAST(round(jac, 4) + 0 AS DOUBLE) AS jac,
          CAST(n_cand AS BIGINT) AS n_cand
        FROM best WHERE rn = 1 ORDER BY doc_id"""

  /** The q6z engine on any (doc_id, text) frame — exposed for the
    * property spec (random corpora with planted shared chunks vs a
    * driver-side brute-force reference). */
  private[graft] def exactSubstringSpans(d0: DataFrame, L: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = d0.select(col("doc_id"), col("text"))
    // pass 1: narrow positions — project text away BEFORE any shuffle.
    // One compiled rolling-hash pass per document (GramHashesExpr; the
    // earlier explode+substring+xxhash64 form re-hashed L chars at every
    // position and was the suite's slowest query); posexplode is 0-based,
    // the span algebra below is 1-based
    // materialized ONCE (localCheckpoint): posH feeds both the dup-hash
    // agg and the candidate join below — left lazy, Spark re-scans the
    // corpus and re-runs the rolling hash for each consumer (measured 2×
    // the query's scan cost). 16-byte rows, ~1 per character: at cluster
    // scale this is the "write the position index once, read it twice"
    // trade every suffix-array dedup pipeline makes; swap to a reliable
    // checkpoint dir via IterationCheckpoint's knob for executor-loss
    // tolerance.
    val posH = graft.operators.IterationCheckpoint.cut(d
      .filter(length(col("text")) >= L)
      .select(col("doc_id"),
        posexplode(TextExpressions.gram_hashes(col("text"), L))
          .as(Seq("p", "gh")))
      .select(col("doc_id"), (col("p") + 1).as("i"), col("gh")))
    val dupH = posH.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gh")
    // pass 2: candidates only — recover gram strings via one corpus
    // equi join on doc_id, then the exact cross-doc verify on the string
    val candG = posH.join(dupH, "gh")
      .select(col("doc_id"), col("i"))
      .join(d, Seq("doc_id"))
      .select(col("doc_id"), col("i"),
        expr(s"substring(text, i, $L)").as("gram"))
    val dupG = candG.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("gram")
    val verified = candG.join(dupG, "gram").select(col("doc_id"), col("i"))
    // merge overlapping/adjacent windows into maximal per-doc spans
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    verified
      .withColumn("prev", lag(col("i"), 1).over(wOrd))
      .withColumn("brk",
        when(col("prev").isNull || col("i") > col("prev") + L, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(wOrd))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).cast("long").as("span_start"),
        (max(col("i")) - min(col("i")) + L).cast("long").as("span_len"))
      .select(col("doc_id"), col("span_start"), col("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** The q9k engine on any (doc_id, lang, key) frame — sorted-
    * neighborhood candidate generation (rank by (lang, key, doc_id) via
    * [[graft.operators.StableIds.assign]], pair each record with its `w`
    * successors — exactly N·w candidates) + Jaro–Winkler ≥ 0.82 verify.
    * Exposed for ScaleProbe's `linkage` mode (candidate growth 1×→4×
    * must be linear, vs the quadratic (lang, length-bucket) block join
    * it replaced). */
  private[graft] def sortedNeighborhoodLinkage(k: DataFrame, w: Int = 10): DataFrame = {
    // global sort rank by (lang, key, doc_id) — lang-major, so
    // within-lang neighbors are contiguous and the lang-equality filter
    // below restricts pairs to same-lang windows. Spark and DuckDB both
    // order strings bytewise, so ranks agree.
    val r = graft.operators.StableIds
      .assign(k, Seq(col("lang"), col("key"), col("doc_id")), 8, "rn")
    r.select(col("doc_id").as("da"), col("lang"), col("key").as("key_a"),
        explode(sequence(col("rn") + 1, col("rn") + w)).as("rn2"))
      .join(r.select(col("doc_id").as("db"), col("lang").as("lang_b"),
        col("key").as("key_b"), col("rn").as("rn2")), Seq("rn2"))
      .filter(col("lang") === col("lang_b"))
      .withColumn("sim",
        round(graft.functions.StringSimilarity
          .jaro_winkler(col("key_a"), col("key_b")), 6))
      .filter(col("sim") >= 0.82)
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** One sorted-neighborhood candidate pass over (doc_id, lang, key)
    * under an arbitrary rank key (qa4 runs a second pass on the REVERSED
    * key): unordered candidate pairs (id_a < id_b), exactly N·w of them.
    * The rank expression must order identically on both engines — ASCII
    * keys here; non-ASCII would need a collation-pinned key. */
  /** qa4's linkage key: first 8 whitespace tokens, normalized to the
    * printable-ASCII projection. The normalization is what licenses the
    * reverse-key second SNM pass — Spark reverses strings by code point
    * while DuckDB reverses by grapheme cluster, and rank agreement
    * additionally needs bytewise collation; on printable ASCII all
    * three notions coincide, so the engine/oracle rank alignment holds
    * on ANY corpus instead of silently assuming one. Spec:
    * LinkageKeySpec. */
  private[graft] def linkageKey(text: Column): Column =
    regexp_replace(
      concat_ws(" ", slice(split(text, " "), 1, 8)), "[^ -~]", "")

  private def snmCandidates(k: DataFrame, rankKey: Column, w: Int): DataFrame = {
    val r = graft.operators.StableIds
      .assign(k.withColumn("rk", rankKey),
        Seq(col("lang"), col("rk"), col("doc_id")), 8, "rn")
    r.select(col("doc_id").as("da"), col("lang"),
        explode(sequence(col("rn") + 1, col("rn") + w)).as("rn2"))
      .join(r.select(col("doc_id").as("db"), col("lang").as("lang_b"),
        col("rn").as("rn2")), Seq("rn2"))
      .filter(col("lang") === col("lang_b"))
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"))
  }

  /** Lossless prefix-filtered Jaccard-0.7 self-join over (doc_id,
    * sh: array) rows — the q6r engine, exposed for the property spec
    * (random sets vs naive all-pairs). */
  private[graft] def prefixJaccardPairs(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val posting = d.select(col("doc_id"), explode(col("sh")).as("sh"))
    val df = posting.groupBy("sh").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val prefix = posting.join(df, "sh")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // prefix length n - ceil(0.7n) + 1, with ceil(7n/10) in exact
      // integer form — a float ceil can round a hair short and a
      // too-short prefix silently loses pairs
      .filter(col("rn") <= col("n") - expr("(n * 7 + 9) div 10") + 1)
      .select(col("doc_id"), col("sh"))
    val cand = prefix.select(col("doc_id").as("id_a"), col("sh"))
      .join(prefix.select(col("doc_id").as("id_b"), col("sh")), "sh")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sets = d.select(col("doc_id"), col("sh"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sha")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("shb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac",
        col("inter") * 1.0 /
          (size(col("sha")) + size(col("shb")) - col("inter")))
      .filter(col("jac") >= 0.7)
      .select(col("id_a"), col("id_b"), col("jac"))
  }
}
