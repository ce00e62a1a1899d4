package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{HashExpressions, MultiPattern, TextExpressions}
import graft.sources.Tables

/** Text-analysis operators over the `documents` table (SURVEY.md §2.12,
  * Tier C: token counting, quality scoring, language-ID, fingerprinting).
  *
  * Everything except the fingerprint is pure builtin column algebra —
  * whole-stage codegen, no UDFs, embarrassingly parallel (no shuffle until
  * the final order), so the per-row cost is the only cost at 100 TB and the
  * DuckDB oracle can mirror each expression exactly.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Tokens-by-whitespace column (shared by several queries). */
  private def toks: Column = split(col("text"), " ")

  /** Shared 50/40 token chunker — THE chunking rule of this engine, used
    * by q5a (chunk text), q5f (sequence packing), and q6e (corpus build,
    * `DedupQueries`). One definition so the window/stride can never
    * silently diverge between the operator that proves the semantics and
    * the pipelines that compose it. Input needs (doc_id, text); output is
    * (doc_id, chunk_idx, chunk_toks) with chunk_toks = tokens
    * [chunk_idx·40, chunk_idx·40+50). Row-local: sequence → posexplode →
    * slice, no shuffle. */
  private[queries] def tokenChunks(df: DataFrame): DataFrame =
    df.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0), size(col("toks")) - 1, lit(40)))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), col("start") + 1, lit(50)).as("chunk_toks"))

  // Shared stopword list — keep in lockstep with the SQL literals below.
  private val Stopwords = Seq("the", "a", "of", "and", "in")

  val all: Seq[QueryDef] = Seq(

    // Token counting: whitespace tokens plus a BPE-ish regex tokenizer
    // (letter runs / digit runs / single punctuation marks) — the standard
    // pre-tokenization shape for LLM corpus accounting.
    QueryDef(
      "q50_token_stats",
      Some("""SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS INT) AS bpe_tokens,
        length(text) AS n_chars,
        CAST(round(length(text) * 1.0 / len(string_split(text, ' ')), 4) + 0 AS DOUBLE)
          AS chars_per_token
        FROM documents ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          size(toks).as("ws_tokens"),
          size(regexp_extract_all(col("text"),
            lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).as("bpe_tokens"),
          length(col("text")).cast("long").as("n_chars"),
          round(length(col("text")) * 1.0 / size(toks), 4).as("chars_per_token"))
          .orderBy(col("doc_id"))),

    // Quality scoring: length / stopword-ratio / mean-word-length /
    // repetition signals, composed into one score. A row-local filter like
    // this is the first stage of every corpus-cleaning pipeline: it prunes
    // before any shuffle happens.
    QueryDef(
      "q51_quality_score",
      Some("""WITH f AS (
        SELECT doc_id,
          length(text) AS n_chars,
          len(string_split(text, ' ')) AS n_toks,
          len(list_filter(string_split(text, ' '),
              t -> list_contains(['the','a','of','and','in'], t))) AS n_stop,
          len(list_distinct(string_split(text, ' '))) AS n_uniq
        FROM documents)
        SELECT doc_id, n_chars, n_toks,
          CAST(round(n_stop * 1.0 / n_toks, 4) + 0 AS DOUBLE) AS stop_ratio,
          CAST(round(n_uniq * 1.0 / n_toks, 4) + 0 AS DOUBLE) AS uniq_ratio,
          CAST(round(
            0.4 * CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1.0 ELSE 0.0 END
            + 0.3 * least(n_stop * 5.0 / n_toks, 1.0)
            + 0.3 * (n_uniq * 1.0 / n_toks), 4) + 0 AS DOUBLE) AS quality
        FROM f ORDER BY doc_id"""),
      (s, dir) => {
        val nToks = size(toks)
        val nStop = size(filter(toks,
          t => array_contains(array(Stopwords.map(lit): _*), t)))
        val nUniq = size(array_distinct(toks))
        val nChars = length(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          nChars.cast("long").as("n_chars"),
          nToks.cast("long").as("n_toks"),
          round(nStop * 1.0 / nToks, 4).as("stop_ratio"),
          round(nUniq * 1.0 / nToks, 4).as("uniq_ratio"),
          round(
            lit(0.4) * when(nChars.between(100, 5000), 1.0).otherwise(0.0)
              + lit(0.3) * least(nStop * 5.0 / nToks, lit(1.0))
              + lit(0.3) * (nUniq * 1.0 / nToks), 4).as("quality"))
          .orderBy(col("doc_id"))
      }),

    // Language-ID: marker-stopword n-gram heuristic — score each candidate
    // language by marker-token hits over the token set, argmax with a fixed
    // precedence order. Row-local; the scoring table is plan-time constant.
    QueryDef(
      "q52_lang_id",
      Some("""WITH sc AS (
        SELECT doc_id, lang,
          len(list_filter(string_split(text,' '),
              t -> list_contains(['the','a','of','and','in'], t))) AS s_en,
          len(list_filter(string_split(text,' '),
              t -> list_contains(['der','die','und','ist','das'], t))) AS s_de,
          len(list_filter(string_split(text,' '),
              t -> list_contains(['le','la','et','les','des'], t))) AS s_fr
        FROM documents)
        SELECT doc_id, lang AS labeled_lang,
          CASE WHEN s_en >= s_de AND s_en >= s_fr THEN 'en'
               WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang,
          CAST(greatest(s_en, s_de, s_fr) AS BIGINT) AS marker_hits
        FROM sc ORDER BY doc_id"""),
      (s, dir) => {
        def hits(markers: Seq[String]): Column = size(filter(toks,
          t => array_contains(array(markers.map(lit): _*), t)))
        val sEn = hits(Stopwords)
        val sDe = hits(Seq("der", "die", "und", "ist", "das"))
        val sFr = hits(Seq("le", "la", "et", "les", "des"))
        docs(s, dir).select(
          col("doc_id"),
          col("lang").as("labeled_lang"),
          when(sEn >= sDe && sEn >= sFr, "en")
            .when(sDe >= sFr, "de").otherwise("fr").as("pred_lang"),
          greatest(sEn, sDe, sFr).cast("long").as("marker_hits"))
          .orderBy(col("doc_id"))
      }),

    // TF-IDF: corpus-level term weighting — tf (per doc) × ln(N/df)
    // (corpus), top-3 terms per doc. Two aggregations: the tf groupBy
    // shuffles (doc_id, term) pairs; the df table is tiny (vocabulary) and
    // broadcast back. At 100 TB df/N are corpus statistics computed once
    // and reused across queries.
    QueryDef(
      "q54_tfidf",
      Some("""WITH tok AS (
          SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfr AS (SELECT w, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, w, tf * ln((SELECT n FROM n) * 1.0 / df) AS score
          FROM tf JOIN dfr USING (w)),
        r AS (SELECT doc_id, w, score,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY score DESC, w) AS rnk
              FROM scored)
        SELECT doc_id, w AS term, CAST(round(score, 4) + 0 AS DOUBLE) AS tfidf, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
      (s, dir) => {
        val tok = docs(s, dir).select(col("doc_id"), explode(toks).as("w"))
        val tf = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val dfr = tok.groupBy(col("w"))
          .agg(countDistinct(col("doc_id")).as("df"))
        // corpus size as a one-row broadcast aggregate, NOT a driver-side
        // count(): the whole query stays one lazy plan, documents is
        // scanned once, and Catalyst can reuse the scan across subtrees
        val nDf = docs(s, dir).agg(count(lit(1)).cast("double").as("n_docs"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
        tf.join(broadcast(dfr), "w")
          .crossJoin(broadcast(nDf))
          .withColumn("score", col("tf") * log(col("n_docs") / col("df")))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("doc_id"), col("w").as("term"),
            round(col("score"), 4).as("tfidf"), col("rnk"))
          .orderBy(col("doc_id"), col("rnk"))
      }),

    // BM25 ranking — the RETRIEVAL twin of q54's TF-IDF (the scoring
    // function that backs corpus search / hard-negative mining / quality
    // retrieval passes): idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    // k1=1.2 b=0.75, top-10 docs per query term. Cross-engine parity
    // discipline: every constant is the same literal on both sides
    // (0.25, 0.75, 2.2, 1.2 — never a computed 1−b), the expression tree
    // associates identically, corpus stats (N, avgdl) divide exact
    // integer sums once, and ordering uses the ROUNDED score (q54's ln
    // precedent, one step stricter). Scale shape: tf is computed
    // ROW-LOCALLY against the fixed term set (no token-explode shuffle —
    // the q54 path shuffles every (doc, term) pair; here only matching
    // (doc_id, term, tf, dl) rows exist at all), df is a |terms|-row
    // broadcast, corpus stats a one-row broadcast, and the per-term
    // top-10 window takes the WindowGroupLimit partial-top-k path.
    QueryDef(
      "q5r_bm25",
      Some("""WITH dd AS (
          SELECT doc_id, string_split(text,' ') AS ws,
                 len(string_split(text,' ')) AS dl
          FROM documents),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 CAST(sum(len(string_split(text,' '))) AS DOUBLE) / count(*) AS avgdl
               FROM documents),
        t AS (SELECT doc_id, dl, term,
                len(list_filter(ws, w -> w = term)) AS tf
              FROM dd, (SELECT unnest(['batch','join','scan','stream','window']) AS term) terms),
        tp AS (SELECT * FROM t WHERE tf > 0),
        dfr AS (SELECT term, count(*) AS df FROM tp GROUP BY term),
        sc AS (SELECT tp.term, tp.doc_id,
                 round(ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
                   * (tp.tf * 2.2)
                   / (tp.tf + 1.2 * (0.25 + 0.75 * tp.dl / st.avgdl)), 4) + 0 AS s4
               FROM tp JOIN dfr USING (term) CROSS JOIN st),
        r AS (SELECT term, doc_id, s4,
                row_number() OVER (PARTITION BY term
                  ORDER BY s4 DESC, doc_id) AS rnk
              FROM sc)
        SELECT term, doc_id, CAST(s4 AS DOUBLE) AS bm25, CAST(rnk AS INT) AS rnk
        FROM r WHERE rnk <= 10 ORDER BY term, rnk"""),
      (s, dir) => {
        val terms = Seq("batch", "join", "scan", "stream", "window")
        val d = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .withColumn("dl", size(col("ws")))
        val stats = d.agg(count(lit(1)).cast("double").as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
        val t = d.select(col("doc_id"), col("dl"),
            explode(array(terms.map { tm =>
              struct(lit(tm).as("term"),
                size(filter(col("ws"), w => w === tm)).as("tf"))
            }: _*)).as("x"))
          .select(col("doc_id"), col("dl"), col("x.term").as("term"),
            col("x.tf").as("tf"))
          .filter(col("tf") > 0)
        val dfr = t.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val w = Window.partitionBy(col("term"))
          .orderBy(col("s4").desc, col("doc_id"))
        t.join(broadcast(dfr), "term")
          .crossJoin(broadcast(stats))
          .withColumn("s4",
            round(log(lit(1.0) +
                (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
              * (col("tf") * 2.2)
              / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))), 4))
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("term"), col("doc_id"), col("s4").as("bm25"), col("rnk"))
          .orderBy(col("term"), col("rnk"))
      }),

    // Deterministic stratified sampling: a balanced n-per-language subset
    // chosen by a shared integer hash (Knuth multiplicative) so the same
    // sample falls out on any engine, any partitioning, any run — the
    // reproducible-corpus-subset primitive of training-data curation.
    // One shuffle (the per-stratum window); at scale the same pattern
    // runs as a window over (stratum, hash) with WindowGroupLimit pushdown.
    QueryDef(
      "q55_stratified_sample",
      Some("""WITH h AS (
          SELECT doc_id, lang,
            (doc_id * 2654435761) % 4294967296 AS hkey
          FROM documents),
        r AS (SELECT doc_id, lang, hkey,
                row_number() OVER (PARTITION BY lang ORDER BY hkey, doc_id) AS rnk
              FROM h)
        SELECT lang, doc_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= 10 ORDER BY lang, rnk"""),
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("hkey"), col("doc_id"))
        docs(s, dir)
          .withColumn("hkey", (col("doc_id") * 2654435761L) % 4294967296L)
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 10)
          .select(col("lang"), col("doc_id"), col("rnk"))
          .orderBy(col("lang"), col("rnk"))
      }),

    // Corpus n-gram frequency profile: top-20 word bigrams — the corpus
    // statistic behind contamination checks and boilerplate detection.
    // Classic two-level aggregation: explode → count → global top-k
    // (TakeOrderedAndProject, no full sort at scale).
    QueryDef(
      "q59_ngram_profile",
      Some("""WITH toks AS (
          SELECT string_split(text, ' ') AS t FROM documents),
        bi AS (
          SELECT unnest(list_transform(generate_series(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1])) AS bigram
          FROM toks)
        SELECT bigram, COUNT(*) AS n FROM bi
        GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20"""),
      (s, dir) =>
        docs(s, dir)
          .select(TextExpressions.word_shingles_all(col("text"), 2).as("bis"))
          .select(explode(col("bis")).as("bigram"))
          .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("bigram"))
          .limit(20)),

    // Document fingerprinting: rolling-hash content identity (custom
    // Catalyst expression graft.functions.Fingerprint64Expr); algebraic
    // properties unit-tested in HashVectorSpec.
    QueryDef(
      "q53_fingerprint",
      // The 61-bit rolling fingerprint isn't DuckDB-computable, but its
      // JOB is checkable: grouping by fingerprint must induce exactly the
      // equivalence classes of grouping by the full text (deterministic +
      // collision-free on the corpus). The oracle states the text-side
      // partition; the query derives the same partition from fingerprints
      // alone — a hash-exact check of the sketch's contract.
      Some("""SELECT min(doc_id) AS keep_id, count(*) AS copies
        FROM documents GROUP BY text ORDER BY keep_id"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), HashExpressions.fingerprint64(col("text")).as("fp"))
          .groupBy(col("fp"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
          .select(col("keep_id"), col("copies"))
          .orderBy(col("keep_id"))),

    // Document chunking with overlap (window 50 tokens, stride 40): the
    // standard training-prep splitter. Pure row-local column algebra —
    // sequence → posexplode → slice — no UDF, no shuffle until the final
    // order; at 100 TB chunking is scan-bandwidth-bound and the output
    // partitioning inherits the input's. Chunk text compared verbatim
    // against the oracle's list-slice reconstruction.
    QueryDef(
      "q5a_chunking",
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start FROM t)
        SELECT doc_id, CAST(start // 40 AS INT) AS chunk_idx,
          CAST(len(list_slice(toks, start + 1, start + 50)) AS INT) AS n_tokens,
          array_to_string(list_slice(toks, start + 1, start + 50), ' ') AS chunk_text
        FROM s ORDER BY doc_id, chunk_idx"""),
      (s, dir) =>
        tokenChunks(docs(s, dir))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk_toks")).as("n_tokens"),
            array_join(col("chunk_toks"), " ").as("chunk_text"))
          .orderBy(col("doc_id"), col("chunk_idx"))),

    // PII redaction: emails and long digit runs replaced by placeholder
    // tags, with per-doc redaction counts. The PII is synthesized
    // deterministically into the text on both engines so the scrubber has
    // something real to match. Row-local regexp algebra (Java regex and
    // RE2 agree on this conservative pattern subset); the first stage of
    // any compliance pass over a training corpus, and it runs before any
    // shuffle.
    QueryDef(
      "q5b_pii_redaction",
      Some("""WITH withpii AS (
          SELECT doc_id,
            text || ' contact user' || doc_id || '@example.com or +1'
                 || (1000000 + doc_id * 7919) AS t
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
            AS n_emails,
          CAST(len(regexp_extract_all(t, '[0-9]{6,}')) AS INT) AS n_longnums,
          regexp_replace(regexp_replace(t,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '[0-9]{6,}', '<NUM>', 'g') AS redacted
        FROM withpii ORDER BY doc_id"""),
      (s, dir) => {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val numRe = "[0-9]{6,}"
        docs(s, dir)
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com or +1"),
              (lit(1000000) + col("doc_id") * 7919).cast("string")).as("t"))
          .select(col("doc_id"),
            size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("t"), lit(numRe), lit(0))).as("n_longnums"),
            regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
              numRe, "<NUM>").as("redacted"))
          .orderBy(col("doc_id"))
      }),

    // Repetition-based quality filters — the Gopher/MassiveText repetition
    // rules (duplicate-n-gram fraction, most-frequent-n-gram fraction)
    // adapted to word bigrams. Counts shuffle on (doc_id, gram), so the
    // aggregation key embeds the doc id and the work is embarrassingly
    // parallel across documents: no skew, no global state, and only gram
    // COUNTS cross the exchange (never document bodies). Both fractions are
    // integer-count ratios, so the double division is bit-identical across
    // engines.
    QueryDef(
      "q5d_quality_repetition",
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1])) AS g
          FROM toks),
        c AS (SELECT doc_id, g, COUNT(*) AS c FROM g GROUP BY doc_id, g),
        m AS (SELECT doc_id, SUM(c) AS total, MAX(c) AS mx,
                SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
              FROM c GROUP BY doc_id)
        SELECT doc_id,
          ROUND(CAST(mx AS DOUBLE) / CAST(total AS DOUBLE), 4) + 0 AS top_2gram_frac,
          ROUND(CAST(dup AS DOUBLE) / CAST(total AS DOUBLE), 4) + 0 AS dup_2gram_frac,
          (CAST(dup AS DOUBLE) / CAST(total AS DOUBLE) > 0.5) AS repetitive
        FROM m ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            explode(TextExpressions.word_shingles_all(col("text"), 2)).as("g"))
          .groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("c")).as("total"),
            max(col("c")).as("mx"),
            sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
          .select(col("doc_id"),
            round(col("mx").cast("double") / col("total").cast("double"), 4)
              .as("top_2gram_frac"),
            round(col("dup").cast("double") / col("total").cast("double"), 4)
              .as("dup_2gram_frac"),
            (col("dup").cast("double") / col("total").cast("double") > 0.5)
              .as("repetitive"))
          .orderBy(col("doc_id"))),

    // Benchmark decontamination: flag corpus documents sharing any word
    // 8-gram with a held-out benchmark set (the standard n-gram-overlap
    // decontamination rule, n scaled to this corpus's ~50-word docs). The
    // benchmark partition (doc_id % 20 = 7) stands in for an eval suite.
    // Scale shape: only distinct GRAMS are joined (document bodies never
    // shuffle), and the benchmark gram set — small by construction, eval
    // suites are MBs not TBs — is broadcast, so the corpus side never
    // shuffles at all: scan → explode → broadcast-hash-join → partial count.
    QueryDef(
      "q5e_decontamination",
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        g AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(t) - 7),
            i -> array_to_string(t[i:i+7], ' ')))) AS g
          FROM toks),
        b AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 7)
        SELECT c.doc_id, COUNT(*) AS n_shared
        FROM g c JOIN b USING (g)
        WHERE c.doc_id % 20 <> 7
        GROUP BY c.doc_id ORDER BY c.doc_id"""),
      (s, dir) => {
        val grams = docs(s, dir)
          .select(col("doc_id"),
            explode(TextExpressions.word_shingles(col("text"), 8)).as("g"))
        val bench = grams.filter(col("doc_id") % 20 === 7)
          .select(col("g")).distinct()
        grams.filter(col("doc_id") % 20 =!= 7)
          .join(broadcast(bench), Seq("g"))
          .groupBy(col("doc_id"))
          // grams are distinct per doc (word_shingles dedups), so the
          // match count IS the distinct shared-gram count.
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("doc_id"))
      }),

    // Sequence packing — the training-prep step after chunking: chunks are
    // concatenated in corpus order and chopped into fixed-capacity training
    // sequences (capacity 128 tokens here; 2k–8k in practice). A chunk
    // belongs to the sequence its FIRST token lands in (concat-and-chop, the
    // standard GPT-style packing; straddles are the tokenizer's problem).
    // Scale shape: packing is per-SHARD (doc_id mod 8), so the running-sum
    // window parallelizes across shards instead of forcing one global sort —
    // at 100 TB the shard count scales with the cluster and each shard's
    // pack is an independent window over its own partition. Pure integer
    // arithmetic end-to-end, so the oracle matches exactly.
    QueryDef(
      "q5f_sequence_packing",
      Some("""WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start FROM t),
        c AS (SELECT doc_id, CAST(start // 40 AS INT) AS chunk_idx,
                len(list_slice(toks, start + 1, start + 50)) AS n_tokens,
                doc_id % 8 AS shard
              FROM s),
        p AS (SELECT shard, doc_id, chunk_idx, n_tokens,
                SUM(n_tokens) OVER (PARTITION BY shard
                  ORDER BY doc_id, chunk_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM c)
        SELECT shard, CAST((cum - n_tokens) // 128 AS BIGINT) AS seq_id,
          CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
        FROM p GROUP BY shard, seq_id ORDER BY shard, seq_id"""),
      (s, dir) => {
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("doc_id"), col("chunk_idx"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        tokenChunks(docs(s, dir))
          .select(col("doc_id"), col("chunk_idx"),
            size(col("chunk_toks")).as("n_tokens"),
            pmod(col("doc_id"), lit(8)).as("shard"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("shard"),
            floor((col("cum") - col("n_tokens")) / 128).as("seq_id"),
            col("n_tokens"))
          .groupBy(col("shard"), col("seq_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("n_tokens")).cast("long").as("seq_tokens"))
          .orderBy(col("shard"), col("seq_id"))
      }),

    // Per-source document cap — the web-domain capping rule of corpus
    // curation: keep at most 5 documents per source, preferring longer
    // ones (doc_id tiebreak keeps it deterministic). Plans as
    // WindowGroupLimit (same operator family as q24): each partition keeps
    // a running top-5 BEFORE the shuffle, so the exchange carries at most
    // 5 rows per (partition, source) — at 100 TB the cap happens at scan
    // side, not after a full sort of the corpus.
    QueryDef(
      "q5g_source_cap",
      Some("""WITH r AS (
          SELECT doc_id, source, n_chars,
            CAST(ROW_NUMBER() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS INT) AS rk
          FROM documents)
        SELECT source, doc_id, n_chars, rk
        FROM r WHERE rk <= 5 ORDER BY source, rk"""),
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        docs(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("source"), col("doc_id"), col("n_chars"), col("rk"))
          .orderBy(col("source"), col("rk"))
      }),

    // Corpus mixing — weighted mixture sampling to hit per-source target
    // rates (the "mix web : books : code at 70:20:10" step of every
    // training run). Sampling is a DETERMINISTIC hash-Bernoulli on the
    // doc id (Knuth multiplicative hash mod 100 vs the source's weight):
    // no RNG state, so the sample is reproducible row-locally at any
    // cluster size, stable under retries/speculative execution, and
    // exactly replayable by the oracle in integer arithmetic. Row-local
    // filter → prunes before any shuffle, like every gate in the corpus
    // pipeline.
    QueryDef(
      "q5h_corpus_mix",
      Some("""WITH w AS (
          SELECT doc_id, source,
            CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 80
                 WHEN source IN ('src5','src6','src7','src8','src9') THEN 50
                 ELSE 20 END AS weight
          FROM documents)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
          CAST(MIN(doc_id) AS BIGINT) AS first_id,
          CAST(SUM(doc_id) AS BIGINT) AS id_sum
        FROM w WHERE (doc_id * 2654435761) % 100 < weight
        GROUP BY source ORDER BY source"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), col("source"),
            when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 80)
              .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 50)
              .otherwise(20).as("weight"))
          .filter(pmod(col("doc_id") * 2654435761L, lit(100)) < col("weight"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_sampled"),
            min(col("doc_id")).as("first_id"),
            sum(col("doc_id")).cast("long").as("id_sum"))
          .orderBy(col("source"))),

    // Temperature-based upsampling — the epoch-expansion half of corpus
    // mixing (q5h gates sources DOWN; this one replicates scarce sources
    // UP, the multilingual temperature-sampling rule: sampling weight
    // ∝ n^α with α = 0.3, realized as an upsample factor
    // (n_max/n_s)^(1-α) relative to the largest source). The factor is
    // quantized to integer MILLI-units (floor(round(f,9)·1000)) so the
    // fractional epoch becomes a deterministic hash-Bernoulli per doc
    // (q5h's Knuth-hash idiom, threshold = f_milli % 1000) — integer
    // arithmetic decides every replica on both engines, the one pow()
    // riding behind a round(,9) like every cross-engine double here.
    // Scale shape: counts + factors are one tiny broadcast frame;
    // replication is a row-local explode of `sequence(0, rep-1)` — each
    // doc's replicas materialize ON the executor that holds the doc, no
    // shuffle of bodies; epochs are numbered so downstream packing can
    // interleave them deterministically.
    QueryDef(
      "q5v_temperature_mix",
      Some("""WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        m AS (SELECT MAX(n_s) AS nmax FROM c),
        f AS (SELECT source,
                CAST(floor(round(pow(CAST(nmax AS DOUBLE) / n_s, 0.7), 9) * 1000)
                  AS BIGINT) AS f_milli
              FROM c, m),
        r AS (SELECT d.doc_id, d.source,
                f.f_milli // 1000 + CASE WHEN (d.doc_id * 2654435761) % 1000
                  < f.f_milli % 1000 THEN 1 ELSE 0 END AS rep
              FROM documents d JOIN f USING (source)),
        e AS (SELECT doc_id, source,
                unnest(generate_series(0, CAST(rep - 1 AS INT))) AS epoch
              FROM r)
        SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(epoch) AS BIGINT) AS epoch_sum
        FROM e GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"))
        val counts = d.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
        val nmax = counts.agg(max(col("n_s")).as("m")).scalar()
        val factors = counts.withColumn("f_milli",
          floor(round(pow(nmax.cast("double") / col("n_s"), 0.7), 9) * 1000)
            .cast("long"))
        d.join(broadcast(factors), Seq("source"))
          .withColumn("rep",
            expr("f_milli div 1000") +
              when(pmod(col("doc_id") * 2654435761L, lit(1000)) <
                col("f_milli") % 1000, 1L).otherwise(0L))
          .withColumn("epoch", explode(sequence(lit(0L), col("rep") - 1)))
          .groupBy(col("source"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_rows"),
            sum(col("epoch")).cast("long").as("epoch_sum"))
          .orderBy(col("source"))
      }),

    // Statistical LM quality score — the CCNet-style filter: score each
    // document by its average bigram log-likelihood under a language
    // model trained on the corpus itself (MLE: p(w2|w1) = c(w1 w2) /
    // c(w1); every bigram seen at scoring time was seen at training
    // time, so no smoothing term is needed). Low scores mark
    // gibberish/rare-token documents — the statistical twin of q51's
    // rule-based score. Scale shape: the "model" is two count tables
    // (bigrams, unigrams) whose shuffles carry grams + counts, never
    // bodies; scoring re-joins the per-doc gram stream to the counts on
    // the gram key (the q54/q5j exchange family). Determinism: each
    // ln() term is rounded to 9 decimals and summed as DECIMAL(30,12)
    // (the cross-GROUP-BY sum idiom), so reduction order can't wiggle
    // the score; the final avg divides AFTER casting the exact decimal
    // sum to double.
    QueryDef(
      "q5w_lm_bigram_score",
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        uc AS (SELECT w, COUNT(*) AS c1 FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w),
        big AS (SELECT doc_id, unnest(list_transform(
                  generate_series(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1])) AS g
                FROM toks),
        bc AS (SELECT g, COUNT(*) AS c12 FROM big GROUP BY g),
        sc AS (SELECT b.doc_id, round(ln(bc.c12 * 1.0 / uc.c1), 9) + 0 AS term
               FROM big b JOIN bc ON b.g = bc.g
               JOIN uc ON split_part(b.g, ' ', 1) = uc.w)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          ROUND(CAST(SUM(CAST(term AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*), 6) + 0
            AS avg_logp
        FROM sc GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
        val uni = toks.select(explode(col("t")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c1"))
        // guard size >= 2: Spark's sequence(1, 0) would WALK DOWN and
        // fabricate grams for single-token docs (DuckDB's is empty)
        val big = toks.filter(size(col("t")) >= 2)
          .select(col("doc_id"),
            explode(expr(
              "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
              .as("g"))
        val bc = big.groupBy(col("g")).agg(count(lit(1)).as("c12"))
        big.join(bc, Seq("g"))
          .withColumn("w", substring_index(col("g"), " ", 1))
          .join(uni, Seq("w"))
          .withColumn("term",
            round(log(col("c12").cast("double") / col("c1")), 9)
              .cast("decimal(30,12)"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(col("term")).cast("double") / count(lit(1)), 6)
              .as("avg_logp"))
          .orderBy(col("doc_id"))
      }),

    // Boilerplate detection — the corpus-frequency rule (C4/CCNet): a
    // 2-gram appearing in more than 5% of ALL documents is boilerplate
    // (navigation chrome, license headers, templates), and each document
    // is scored by its boilerplate-gram fraction. Two-pass shape built
    // for scale: pass 1 computes document frequency per DISTINCT gram
    // (shuffle carries grams + counts, never bodies); the high-DF set —
    // tiny by construction, DF > 5% caps it at 20 grams per corpus-wide
    // distinct gram budget — broadcasts back for the per-doc score. The
    // 5% threshold is integer arithmetic (df * 20 > N, N computed
    // in-plan), so no float boundary can split the engines.
    QueryDef(
      "q5j_boilerplate",
      Some("""WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        g AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
            generate_series(1, len(t) - 1),
            i -> t[i] || ' ' || t[i+1]))) AS g
          FROM toks),
        n AS (SELECT COUNT(*) AS n FROM documents),
        dfq AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
        b AS (SELECT g FROM dfq, n WHERE df * 20 > n),
        j AS (SELECT gg.doc_id,
                CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END AS is_b
              FROM g gg LEFT JOIN b ON gg.g = b.g)
        SELECT doc_id, COUNT(*) AS n_grams,
          CAST(SUM(is_b) AS BIGINT) AS n_boiler,
          ROUND(CAST(SUM(is_b) AS DOUBLE) / COUNT(*), 4) + 0 AS boiler_frac
        FROM j GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val grams = docs(s, dir)
          .select(col("doc_id"),
            explode(TextExpressions.word_shingles(col("text"), 2)).as("g"))
        val nDocs = docs(s, dir).agg(count(lit(1)).as("n"))
        val boiler = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nDocs))
          .filter(col("df") * 20 > col("n"))
          .select(col("g"), lit(1).as("is_b"))
        grams.join(broadcast(boiler), Seq("g"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(coalesce(col("is_b"), lit(0))).cast("long").as("n_boiler"))
          .select(col("doc_id"), col("n_grams"), col("n_boiler"),
            round(col("n_boiler").cast("double") / col("n_grams"), 4)
              .as("boiler_frac"))
          .orderBy(col("doc_id"))
      }),

    // GLOBAL concat-and-chunk packing — q5f packs per shard (8 independent
    // streams); this is the single-stream variant a run needs when training
    // sequences must be globally numbered (one corpus-order token stream,
    // chopped into fixed 128-token windows, every doc mapped to the span of
    // windows its tokens land in). The tempting implementation is
    // `SUM(n_tokens) OVER (ORDER BY doc_id)` — a global window that funnels
    // the whole corpus through one task (the q0d scale-killer, and exactly
    // why q5f sharded). StableIds.runningTotal gives the same exclusive
    // prefix sum via range partition + per-partition totals + offsets
    // computed on the driver + pid-partitioned local running sums —
    // PlanSpec asserts q5x plans ZERO empty-partitioning WindowExec nodes.
    // All integer arithmetic, so the oracle (the single-node global window
    // itself) matches exactly.
    QueryDef(
      "q5x_global_packing",
      Some("""WITH t AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
          FROM documents),
        p AS (SELECT doc_id, n_tokens,
                COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS tok_before
              FROM t)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
          CAST(tok_before AS BIGINT) AS tok_before,
          CAST(tok_before // 128 AS BIGINT) AS first_seq,
          CAST((tok_before + n_tokens - 1) // 128 AS BIGINT) AS last_seq,
          CAST((tok_before + n_tokens - 1) // 128 - tok_before // 128 + 1
            AS BIGINT) AS n_seqs
        FROM p ORDER BY doc_id"""),
      (s, dir) => {
        val t = docs(s, dir)
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
        graft.operators.StableIds
          .runningTotal(t, Seq(col("doc_id")), col("n_tokens"), 8,
            outCol = "tok_before")
          .select(col("doc_id"), col("n_tokens"), col("tok_before"),
            expr("tok_before div 128").as("first_seq"),
            expr("(tok_before + n_tokens - 1) div 128").as("last_seq"),
            (expr("(tok_before + n_tokens - 1) div 128")
              - expr("tok_before div 128") + 1).as("n_seqs"))
          .orderBy(col("doc_id"))
      }),

    // Content-defined chunking + cross-document chunk dedup — the
    // storage-dedup primitive (LBFS, Muthitacharoen et al. SOSP 2001;
    // FastCDC, Xia et al. ATC 2016) applied to corpus curation: unlike
    // q5a's fixed token windows, chunk boundaries are decided by the
    // CONTENT (a rolling window hash hitting a divisor), so a single
    // insertion shifts only the chunks it touches — shared passages in
    // near-duplicate documents land in IDENTICAL chunks and dedupe
    // across docs no matter where they sit. Boundary rule (both engines,
    // exact integer algebra): position i ends a chunk iff the 8-char
    // window hash Σ ascii(c_{i-7+j})·31^j hits ≡ 0 (mod 32) — expected
    // chunk ≈ 32 chars. Boundary decisions and chunk assembly are
    // ROW-LOCAL (one HOF pass per doc, no explode of per-char rows);
    // the only shuffle carries (doc_id, sha256(chunk), len) — document
    // bodies never cross an exchange, the q60 discipline applied at
    // sub-document grain.
    QueryDef(
      "q5y_cdc_chunking",
      Some(s"""WITH ${cdcChunksCteSql("a", "TRUE")},
        dup AS (SELECT sha256(chunk) AS chash FROM chunks_a
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
          CAST(count(*) FILTER (WHERE d.chash IS NOT NULL) AS BIGINT)
            AS n_dup_chunks,
          CAST(max(length(c.chunk)) AS BIGINT) AS max_chunk_len
        FROM chunks_a c LEFT JOIN dup d ON sha256(c.chunk) = d.chash
        GROUP BY c.doc_id ORDER BY c.doc_id"""),
      (s, dir) => {
        val chunked = cdcChunks(docs(s, dir))
          .select(col("doc_id"), sha2(col("chunk"), 256).as("chash"),
            length(col("chunk")).as("clen"))
        val dup = chunked.groupBy("chash")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .filter(col("nd") >= 2)
          .select(col("chash"), lit(1).as("isd"))
        chunked.join(dup, Seq("chash"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("isd").isNotNull, 1L).otherwise(0L)).as("n_dup_chunks"),
            max(col("clen")).cast("long").as("max_chunk_len"))
          .orderBy(col("doc_id"))
      }),

    // Weighted sampling without replacement, per source — the
    // Efraimidis–Spirakis (2006) reservoir scheme made deterministic:
    // each doc draws u ∈ (0,1] from an integer hash of its id and ranks
    // by key = ln(u)/w (monotone in u^(1/w)), weight w = n_chars, so
    // selection probability is proportional to document length without
    // replacement — the corpus-curation primitive behind "sample k docs
    // per source, longer docs proportionally more likely" (q55 is its
    // unweighted twin). One per-source window (PARTITIONED, never
    // global; WindowGroupLimit pushes the rank filter partition-local
    // as in q24); u is exact integer arithmetic both engines, ln rounds
    // to 9 decimals (the q5w idiom) so libm ulp drift can't reorder.
    QueryDef(
      "q5z_weighted_sample",
      Some("""WITH s AS (
          SELECT doc_id, source, n_chars,
            ((doc_id * 2654435761) % 1000003 + 1) / 1000004.0 AS u
          FROM documents),
        k AS (SELECT doc_id, source,
                round(ln(u) / n_chars, 9) + 0 AS ky
              FROM s),
        r AS (SELECT doc_id, source, ky,
                row_number() OVER (PARTITION BY source
                  ORDER BY ky DESC, doc_id) AS rk
              FROM k)
        SELECT source, doc_id, CAST(rk AS INT) AS sample_rank,
          CAST(ky AS DOUBLE) + 0 AS sample_key
        FROM r WHERE rk <= 5 ORDER BY source, sample_rank"""),
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("ky").desc, col("doc_id"))
        docs(s, dir)
          .withColumn("u",
            expr("((doc_id * 2654435761L) % 1000003 + 1) / 1000004.0"))
          .withColumn("ky", round(log(col("u")) / col("n_chars"), 9))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 5)
          .select(col("source"), col("doc_id"), col("rk").as("sample_rank"),
            (col("ky") + lit(0.0)).as("sample_key"))
          .orderBy(col("source"), col("sample_rank"))
      }),

    // BPE vocabulary training (Sennrich et al. 2016, arXiv:1508.07909) —
    // the tokenizer-learning step of every LLM data pipeline, run as a
    // distributed iterative operator. The scale shape production BPE
    // trainers use: the CORPUS is aggregated once into the (word, freq)
    // vocabulary (Heaps' law: vocab ≪ corpus, the only corpus-sized
    // pass), then every merge round runs over the vocab alone — pair
    // counting is a narrow (pair, Σfreq) shuffle and the winning merge
    // flows back as a broadcast 1-row frame, so rounds stay in-plan with
    // no driver collect. Greedy left-to-right merge application is made
    // EXACT and engine-portable by keeping each word as a bracketed
    // token string '(h)(e)(l)(l)(o)(_)': literal replace of '(a)(b)' →
    // '(ab)' consumes whole tokens only (no cross-token false match the
    // space-delimited form allows) and both engines' replace() scan
    // left-to-right non-overlapping — exactly BPE's merge order, so
    // '(a)(a)(a)(a)' → '(aa)(aa)', never '(aa)(a)(a)' . Round-2 counts
    // depend on round-1 application, so three rounds of matching counts
    // certify application, not just counting. All-integer algebra;
    // ties broken (count DESC, pair ASC) like every argmax here.
    QueryDef(
      "q90_bpe_train",
      Some(s"""WITH ${bpeTrainCteSql()}
        SELECT rnd, lt AS left_tok, rt AS right_tok,
               CAST(c AS BIGINT) AS pair_count
        FROM (SELECT 1 AS rnd, * FROM b1 UNION ALL
              SELECT 2 AS rnd, * FROM b2 UNION ALL
              SELECT 3 AS rnd, * FROM b3)
        ORDER BY rnd"""),
      (s, dir) => {
        val Seq(b1, b2, b3) = bpeMerges(docs(s, dir))
        Seq(b1 -> 1, b2 -> 2, b3 -> 3)
          .map { case (b, r) => b.select(lit(r).as("rnd"), col("lt"), col("rt"),
            col("c")) }
          .reduce(_.unionAll(_))
          .select(col("rnd"), col("lt").as("left_tok"),
            col("rt").as("right_tok"), col("c").cast("long").as("pair_count"))
          .orderBy(col("rnd"))
      }),

    // BPE tokenization — APPLYING the q90-trained merges to the whole
    // corpus, the encode half of the tokenizer lifecycle (train once,
    // encode 100 TB). The three winning merges flow back onto the
    // document scan as a broadcast 1-row frame (never a driver collect),
    // and per-document encoding is pure row-local column algebra: word
    // list → bracketed token string → three literal replaces in merge
    // order → token count by counting '(' groups. Zero shuffles besides
    // training; the corpus pass is embarrassingly parallel, which is the
    // whole design at scale. The oracle re-trains the merges in SQL and
    // re-encodes every document, so a drift in EITHER half shows.
    QueryDef(
      "q91_bpe_encode",
      Some(bpeEncodeOracle("TRUE", "TRUE")),
      (s, dir) =>
        bpeEncodeCols(
          docs(s, dir).crossJoin(broadcast(bpeMergeFrame(docs(s, dir)))))
          .orderBy(col("doc_id"))),

    // Multi-pattern blocklist screening — the corpus-hygiene scan that
    // checks every document against a (possibly data-derived) list of
    // banned phrases in ONE pass. The Spark side compiles the list into
    // an Aho–Corasick automaton ([[graft.functions.MultiPattern]]):
    // O(|text| + matches) per document regardless of how many patterns
    // the blocklist holds, with the pattern set flowing in-plan as a
    // broadcast 1-row array (the centroid idiom — no driver collect).
    // The oracle is the naive formulation — one position-by-position
    // substring scan PER pattern — so it independently certifies the
    // automaton's overlap semantics (every occurrence position counts,
    // 'a a' hits twice in 'a a a'). Here the blocklist is the corpus's
    // top-20 bigram phrases, making the screen self-contained; a real
    // deployment reads the same array from a config table.
    QueryDef(
      "q93_blocklist_scan",
      Some(s"""WITH ${topBigramsCteSql(20)},
        pats AS (SELECT pat, length(pat) AS m FROM topbg),
        hit AS (SELECT d.doc_id, p.pat,
            len(list_filter(generate_series(1, length(d.text) - p.m + 1),
                i -> substr(d.text, CAST(i AS INT), CAST(p.m AS INT)) = p.pat))
              AS cnt
          FROM documents d, pats p)
        SELECT pat AS pattern,
          CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_docs,
          CAST(SUM(cnt) AS BIGINT) AS total_hits
        FROM hit GROUP BY pattern ORDER BY pattern"""),
      (s, dir) => {
        val pats = topBigrams(docs(s, dir), 20)
          .agg(sort_array(collect_list(col("pat"))).as("patterns"))
        docs(s, dir)
          .crossJoin(broadcast(pats))
          .select(col("doc_id"), explode(MultiPattern.multi_pattern_counts(
            col("text"), col("patterns"))).as("h"))
          .select(col("doc_id"), col("h.pattern").as("pattern"),
            col("h.cnt").as("cnt"))
          .groupBy(col("pattern"))
          .agg(count(when(col("cnt") > 0, lit(1))).as("n_docs"),
            sum(col("cnt")).cast("long").as("total_hits"))
          .orderBy(col("pattern"))
      }),

    // Phrase search over a positional inverted index — the retrieval
    // shape BM25 (q5r) can't express: exact phrase matching via posting
    // positions. The index is (term, doc_id, pos) — ONE corpus-sized
    // posexplode, then the phrase probe filters the postings to the two
    // phrase terms (a broadcast 1-row frame, so the filter reaches the
    // scan) and self-joins on (doc_id, pos+1): adjacency in position
    // space IS phrase occurrence. At 100 TB the index is built once and
    // bucketed by term; the probe touches only the phrase terms'
    // postings — the reason inverted indexes exist. The probed phrase is
    // the corpus's most frequent bigram (deterministic argmax), and the
    // oracle recomputes occurrences by scanning every document's word
    // array — index-based counts must equal scan-based counts exactly.
    QueryDef(
      "q96_phrase_search",
      Some(s"""WITH ${topBigramsCteSql(1)},
        ph AS (SELECT string_split(pat, ' ')[1] AS w1,
                      string_split(pat, ' ')[2] AS w2 FROM topbg),
        wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        wp AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
               FROM wl)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM wp, ph WHERE w[i] = w1 AND w[i + 1] = w2
        GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) => {
        val phrase = topBigrams(docs(s, dir), 1)
          .select(split(col("pat"), " ").getItem(0).as("w1"),
            split(col("pat"), " ").getItem(1).as("w2"))
        val postings = docs(s, dir)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
          .crossJoin(broadcast(phrase))
        val heads = postings.filter(col("term") === col("w1"))
          .select(col("doc_id"), col("pos"))
        val tails = postings.filter(col("term") === col("w2"))
          .select(col("doc_id"), (col("pos") - 1).as("pos"))
        heads.join(tails, Seq("doc_id", "pos"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_occurrences"))
          .orderBy(col("doc_id"))
      }),

    // Term co-occurrence lift — association mining (Agrawal et al. 1993)
    // at document granularity, the presence-based collocation signal
    // behind phrase-vocab induction and topic drift checks: lift(a,b) =
    // N·df(ab) / (df(a)·df(b)) — 1 means independent, >1 means the terms
    // travel together. Shape: the (doc, term) presence set distincts
    // once; the candidate vocabulary is the top-40 terms by df
    // (deterministic df DESC, term ASC), a √N-scale frame that
    // BROADCASTS to prune postings before the per-doc self-join, so the
    // pair fan-out is ≤ C(40,2) per doc — never vocabulary-quadratic.
    // All counts stay integers; the single double division + round(·,6)
    // happens once per surviving pair (exact integer operands < 2^53 on
    // both engines). Top-50 via TakeOrderedAndProject.
    QueryDef(
      "q9a_term_lift",
      Some("""WITH t0 AS (SELECT doc_id,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
          FROM documents),
        dt AS (SELECT DISTINCT doc_id, term FROM t0),
        df AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term),
        top AS (SELECT term, df FROM df ORDER BY df DESC, term LIMIT 40),
        qt AS (SELECT dt.doc_id, dt.term FROM dt
               JOIN top ON dt.term = top.term),
        pr AS (SELECT a.term AS term_a, b.term AS term_b,
                 COUNT(*) AS dfab
               FROM qt a JOIN qt b
                 ON a.doc_id = b.doc_id AND a.term < b.term
               GROUP BY a.term, b.term),
        nn AS (SELECT COUNT(*) AS n FROM documents)
        SELECT term_a, term_b,
          CAST(ta.df AS BIGINT) AS df_a, CAST(tb.df AS BIGINT) AS df_b,
          CAST(dfab AS BIGINT) AS df_ab,
          round(dfab * 1.0 * (SELECT n FROM nn) / (ta.df * tb.df), 6) + 0
            AS lift
        FROM pr JOIN top ta ON pr.term_a = ta.term
                JOIN top tb ON pr.term_b = tb.term
        ORDER BY lift DESC, term_a, term_b LIMIT 50"""),
      (s, dir) => {
        val d = docs(s, dir)
        val nCount = d.agg(count(lit(1)).as("n")).scalar()
        val dt = d.select(col("doc_id"),
            explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
              .as("term"))
          .distinct()
        val dfT = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val top = dfT.orderBy(col("df").desc, col("term")).limit(40)
        val qt = dt.join(broadcast(top.select(col("term"))), Seq("term"))
        val a = qt.select(col("doc_id"), col("term").as("term_a"))
        val b = qt.select(col("doc_id").as("b_doc"), col("term").as("term_b"))
        a.join(b, col("doc_id") === col("b_doc")
            && col("term_a") < col("term_b"))
          .groupBy(col("term_a"), col("term_b"))
          .agg(count(lit(1)).as("df_ab"))
          .join(broadcast(top.select(col("term").as("term_a"),
            col("df").as("df_a"))), Seq("term_a"))
          .join(broadcast(top.select(col("term").as("term_b"),
            col("df").as("df_b"))), Seq("term_b"))
          .select(col("term_a"), col("term_b"), col("df_a"), col("df_b"),
            col("df_ab"),
            round(col("df_ab") * nCount / (col("df_a") * col("df_b")), 6)
              .as("lift"))
          .orderBy(col("lift").desc, col("term_a"), col("term_b"))
          .limit(50)
      }),

    // MLM-style token masking (Devlin et al. 2018) — the corruption /
    // augmentation pass of masked-LM pretraining data, as a relational
    // operator: ~15% of token positions replaced by [MASK]. The mask
    // decision is a DETERMINISTIC hash of (doc_id, position) — the
    // multiplicative-hash idiom of the pseudo-link graph and every
    // Bernoulli sampler here — because rand() is neither replayable nor
    // cross-engine. Purely row-local (one transform HOF per document,
    // zero shuffle beyond the scan): the shape that saturates I/O at
    // 100 TB. Per-doc token and mask accounting rides the same pass.
    QueryDef(
      "q9b_token_mask",
      Some("""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
        wp AS (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
               FROM wl),
        m AS (SELECT doc_id, i,
            CASE WHEN (doc_id * 2654435761 + i * 40503241) % 997 < 150
                 THEN '[MASK]' ELSE w[i] END AS tok,
            CASE WHEN (doc_id * 2654435761 + i * 40503241) % 997 < 150
                 THEN 1 ELSE 0 END AS msk
          FROM wp)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
          CAST(SUM(msk) AS BIGINT) AS n_masked,
          string_agg(tok, ' ' ORDER BY i) AS masked_text
        FROM m GROUP BY doc_id ORDER BY doc_id"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"),
            expr("""transform(w, (t, i) ->
              IF((doc_id * 2654435761L + (i + 1) * 40503241L) % 997 < 150,
                 '[MASK]', t))""").as("mw"),
            // n_masked from the SAME hash predicate that masks: counting
            // '[MASK]' strings in the output would also count source
            // tokens that are literally '[MASK]' at unmasked positions,
            // diverging from the oracle's sum of mask decisions
            expr("""CAST(size(filter(sequence(1, size(w)), i ->
              (doc_id * 2654435761L + i * 40503241L) % 997 < 150)) AS BIGINT)""")
              .as("n_masked"),
            size(col("w")).cast("long").as("n_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_masked"),
            array_join(col("mw"), " ").as("masked_text"))
          .orderBy(col("doc_id"))),

    // Context-window sample construction — tokens → fixed-size training
    // windows with stride overlap (the GPT-style pretraining pipeline's
    // final step: every W=32-token window at stride S=16 becomes one
    // training sample, consecutive samples sharing half their tokens).
    // Documents shorter than W emit nothing (real pipelines pack them —
    // that path is q5f/q5x). Row-local fan-out: each document expands to
    // its own windows via one sequence+transform, no shuffle until the
    // final order — the sample count is Σ(len−W)/S+1, linear in corpus
    // size. Window content is certified by full text equality, not
    // counts, so an off-by-one in start arithmetic cannot hide.
    QueryDef(
      "q9c_context_windows",
      Some("""WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w
               FROM documents),
        st AS (SELECT doc_id, w,
            unnest(generate_series(1, len(w) - 31, 16)) AS start
          FROM wl WHERE len(w) >= 32)
        SELECT doc_id, CAST((start - 1) // 16 AS BIGINT) AS win_id,
          array_to_string(w[start:start + 31], ' ') AS window_text
        FROM st ORDER BY doc_id, win_id"""),
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 32)
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(1), size(col("w")) - 31, lit(16)))
              .as("start"))
          .select(col("doc_id"),
            ((col("start") - 1) / 16).cast("long").as("win_id"),
            array_join(slice(col("w"), col("start"), lit(32)), " ")
              .as("window_text"))
          .orderBy(col("doc_id"), col("win_id")))
,

    // Per-source distribution drift — KL(source ‖ corpus) over unigram
    // distributions, the corpus-monitoring statistic behind "did this
    // crawl slice / new supplier drift from the mix we trained on".
    // Shape: token counts aggregate to (source, word) ONCE — narrow
    // integer shuffles, bodies never move — per-source and corpus totals
    // join back (word-marginal frame is vocabulary-sized → broadcast),
    // and the KL terms sum per source. Determinism is the q5w/PageRank
    // idiom: each ln() quantizes to 9 decimals (libm vs java.lang.Math
    // may differ in the last ulp), each term p·(ln p − ln q) to 12, the
    // per-source sum runs as exact DECIMAL(30,14), final round(·, 9).
    QueryDef(
      "q9d_source_divergence",
      Some("""WITH tok AS (SELECT source,
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
          FROM documents),
        sc AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY source, w),
        st AS (SELECT source, SUM(c) AS t FROM sc GROUP BY source),
        cw AS (SELECT w, SUM(c) AS cw FROM sc GROUP BY w),
        ct AS (SELECT SUM(cw) AS tt FROM cw),
        term AS (SELECT sc.source,
            round((sc.c * 1.0 / st.t)
              * (round(ln(sc.c * 1.0 / st.t), 9)
                 - round(ln(cw.cw * 1.0 / (SELECT tt FROM ct)), 9)), 12) + 0
              AS kl_term
          FROM sc JOIN st ON sc.source = st.source
                  JOIN cw ON sc.w = cw.w)
        SELECT source,
          round(CAST(SUM(CAST(kl_term AS DECIMAL(30,14))) AS DOUBLE), 9) + 0
            AS kl_nats
        FROM term GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val tok = docs(s, dir).select(col("source"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .as("w"))
        val sc = tok.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("c"))
        val st = sc.groupBy(col("source")).agg(sum(col("c")).as("t"))
        val cw = sc.groupBy(col("w")).agg(sum(col("c")).as("cw"))
        val tt = cw.agg(sum(col("cw")).as("tt")).scalar()
        sc.join(st, Seq("source"))
          .join(broadcast(cw), Seq("w"))
          .select(col("source"),
            round((col("c") / col("t"))
              * (round(log(col("c") / col("t")), 9)
                 - round(log(col("cw") / tt), 9)), 12).as("kl_term"))
          .groupBy(col("source"))
          .agg(round(sum(col("kl_term").cast("decimal(30,14)"))
            .cast("double"), 9).as("kl_nats"))
          .orderBy(col("source"))
      })
,

    // Per-document token entropy — the Shannon entropy of each document's
    // unigram distribution, the cheap "is this text templated/repetitive
    // or natural" quality signal (low entropy ⇒ boilerplate, log-spam,
    // keyword stuffing; the distribution-level complement of q5d's
    // surface repetition ratios). Scale shape: explode happens ON the
    // scan partitions, so only narrow (doc_id, token, count) rows ever
    // shuffle (map-side combine collapses repeats before the exchange)
    // and document bodies never move; per-doc totals come from a second
    // agg over those counts, not a rescan. Determinism is the q5w/q9d
    // idiom — ln quantized to 9, each p·ln p term to 12, exact
    // DECIMAL(30,14) sum, final round(·, 9).
    QueryDef(
      "q9f_token_entropy",
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
               FROM documents),
        c AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY doc_id, tok),
        n AS (SELECT doc_id, SUM(c) AS n, COUNT(*) AS n_unique
              FROM c GROUP BY doc_id)
        SELECT c.doc_id,
          CAST(n.n AS BIGINT) AS n_toks,
          CAST(n.n_unique AS BIGINT) AS n_unique,
          round(-CAST(SUM(CAST(round(c.c * 1.0 / n.n
              * round(ln(c.c * 1.0 / n.n), 9), 12) AS DECIMAL(30,14)))
            AS DOUBLE), 9) + 0 AS entropy
        FROM c JOIN n USING (doc_id)
        GROUP BY c.doc_id, n.n, n.n_unique ORDER BY doc_id"""),
      (s, dir) => {
        val c = docs(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).as("c"))
        val n = c.groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n"), count(lit(1)).as("n_unique"))
        c.join(n, Seq("doc_id"))
          .select(col("doc_id"), col("n"), col("n_unique"),
            round((col("c") / col("n"))
              * round(log(col("c") / col("n")), 9), 12).as("term"))
          .groupBy(col("doc_id"), col("n"), col("n_unique"))
          .agg(round(-sum(col("term").cast("decimal(30,14)"))
            .cast("double"), 9).as("entropy"))
          .select(col("doc_id"), col("n").cast("long").as("n_toks"),
            col("n_unique").cast("long").as("n_unique"), col("entropy"))
          .orderBy(col("doc_id"))
      })
,

    // Differentially-private count release — per-source document counts
    // with Laplace(b = sensitivity/ε = 1/0.5 = 2) noise, the aggregate a
    // corpus operator publishes when per-source volumes are themselves
    // sensitive (licensed-supplier quotas, user-generated slices). The
    // noise draw is DETERMINISTIC: uniform u ∈ (0,1) from the q5h Knuth
    // hash of the group's min(doc_id) (a stable integer key that needs no
    // cross-engine string hashing), pushed through the Laplace inverse
    // CDF with both ln() calls quantized to 9. Deterministic noise is
    // what makes the release replayable by the oracle AND idempotent
    // under Spark retries/speculation — a true RNG would emit a different
    // "private" count per attempt, silently spending extra ε. Scale: one
    // map-side-combined count per source, a 20-row frame; everything
    // after the agg is row-local arithmetic.
    QueryDef(
      "q9h_dp_counts",
      Some("""WITH g AS (SELECT source, COUNT(*) AS n,
               MIN(doc_id) AS seed FROM documents GROUP BY source),
        u AS (SELECT source, n,
               ((seed * 2654435761) % 1000000 + 0.5) / 1000000.0 AS u
              FROM g)
        SELECT source, CAST(n AS BIGINT) AS n_true,
          round(CAST(n AS DOUBLE)
            + CASE WHEN u < 0.5 THEN 2.0 * round(ln(2.0 * u), 9)
                   ELSE -2.0 * round(ln(2.0 * (1.0 - u)), 9) END, 6) + 0
            AS n_released,
          CAST(0.5 AS DOUBLE) AS epsilon
        FROM u ORDER BY source"""),
      (s, dir) =>
        docs(s, dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("seed"))
          .withColumn("u",
            (pmod(col("seed") * 2654435761L, lit(1000000L)) + 0.5)
              / 1000000.0)
          .select(col("source"), col("n").cast("long").as("n_true"),
            round(col("n").cast("double")
              + when(col("u") < 0.5, lit(2.0) * round(log(lit(2.0) * col("u")), 9))
                .otherwise(lit(-2.0)
                  * round(log(lit(2.0) * (lit(1.0) - col("u"))), 9)), 6)
              .as("n_released"),
            lit(0.5).as("epsilon"))
          .orderBy(col("source")))
,

    // Equi-depth quantile binning — the feature-bucketing step of every
    // length-balanced batch scheduler and curriculum sampler: document
    // length discretized into 10 depth-balanced bins. NOT ntile(): a
    // global-window ntile is the single-task global sort PlanSpec bans
    // (q1h/q5x lesson). Instead the 9 interior decile boundaries come
    // from ONE exact percentile aggregate (a 9-double frame riding an
    // in-plan scalar subquery), and each row buckets itself row-locally
    // as bin = |{b : n_chars > b}| — the scan never shuffles, only the
    // final per-bin agg does. Ties on a boundary all land in the lower
    // bin (documented determinism; exact depth balance under heavy ties
    // needs a tie-break key, which is what makes ntile a sort).
    QueryDef(
      "q9n_length_bins",
      Some("""WITH b AS (SELECT quantile_cont(n_chars,
                [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bnd
              FROM documents),
        a AS (SELECT doc_id, n_chars,
               len(list_filter((SELECT bnd FROM b), x -> n_chars > x)) AS bin
              FROM documents)
        SELECT CAST(bin AS INT) AS bin, COUNT(*) AS n,
          CAST(MIN(n_chars) AS BIGINT) AS min_chars,
          CAST(MAX(n_chars) AS BIGINT) AS max_chars,
          round(CAST(SUM(CAST(n_chars AS DECIMAL(30,8))) AS DOUBLE)
            / COUNT(*), 4) + 0 AS mean_chars
        FROM a GROUP BY bin ORDER BY bin"""),
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("n_chars"))
        val bnd = d.agg(percentile(col("n_chars"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("bnd"))
        d.crossJoin(broadcast(bnd))
          .select(col("doc_id"), col("n_chars"),
            size(filter(col("bnd"), x => col("n_chars") > x)).as("bin"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            round(sum(col("n_chars").cast("decimal(30,8)")).cast("double")
              / count(lit(1)), 4).as("mean_chars"))
          .select(col("bin").cast("int").as("bin"), col("n"),
            col("min_chars"), col("max_chars"), col("mean_chars"))
          .orderBy(col("bin"))
      })
,

    // Collocation mining — pointwise mutual information over ADJACENT
    // word pairs (Church & Hanks 1990), the new-term / multiword-unit
    // discovery step tokenizer-vocabulary curation runs: PMI =
    // ln p(w1w2) − ln p(w1) − ln p(w2) with bigram probability over the
    // bigram total and unigram probabilities over the token total. q9a's
    // term lift scores document CO-PRESENCE (topical association); this
    // scores ADJACENCY (phrasal units) — "new york" ranks here even if
    // the two words co-occur in every document. Min support 5 kills the
    // noise floor. Shape: two narrow (gram, Σ1) aggs, unigram frame is
    // vocabulary-sized → broadcast onto the bigram frame twice; top-30
    // via TakeOrderedAndProject. ln quantized 9, the q9d idiom.
    QueryDef(
      "q9o_collocations",
      Some("""WITH wl AS (SELECT string_split(text, ' ') AS w FROM documents),
        bp AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM wl),
        bg AS (SELECT w[i] AS w1, w[i + 1] AS w2, COUNT(*) AS c12
               FROM bp GROUP BY 1, 2),
        tb AS (SELECT SUM(c12) AS t FROM bg),
        ug AS (SELECT unnest(w) AS term FROM wl),
        uc AS (SELECT term, COUNT(*) AS c FROM ug GROUP BY term),
        tu AS (SELECT SUM(c) AS t FROM uc)
        SELECT bg.w1 || ' ' || bg.w2 AS bigram, CAST(bg.c12 AS BIGINT) AS c12,
          round(round(ln(bg.c12 * 1.0 / (SELECT t FROM tb)), 9)
            - round(ln(u1.c * 1.0 / (SELECT t FROM tu)), 9)
            - round(ln(u2.c * 1.0 / (SELECT t FROM tu)), 9), 9) + 0 AS pmi
        FROM bg JOIN uc u1 ON bg.w1 = u1.term
                JOIN uc u2 ON bg.w2 = u2.term
        WHERE bg.c12 >= 5
        ORDER BY pmi DESC, bigram LIMIT 30"""),
      (s, dir) => {
        val wl = docs(s, dir)
        val bg = wl
          .select(explode(TextExpressions.word_shingles_all(col("text"), 2))
            .as("pat"))
          .groupBy(col("pat")).agg(count(lit(1)).as("c"))
        val uc = wl.select(explode(split(col("text"), " ")).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("c"))
        val tb = bg.agg(sum(col("c")).as("t")).scalar()
        val tu = uc.agg(sum(col("c")).as("t")).scalar()
        val parts = split(col("pat"), " ")
        bg.filter(col("c") >= 5)
          .select(col("pat"), col("c").as("c12"),
            parts.getItem(0).as("w1"), parts.getItem(1).as("w2"))
          .join(broadcast(uc.select(col("term").as("w1"), col("c").as("c1"))),
            Seq("w1"))
          .join(broadcast(uc.select(col("term").as("w2"), col("c").as("c2"))),
            Seq("w2"))
          .select(col("pat").as("bigram"), col("c12"),
            round(round(log(col("c12") / tb), 9)
              - round(log(col("c1") / tu), 9)
              - round(log(col("c2") / tu), 9), 9).as("pmi"))
          .orderBy(col("pmi").desc, col("bigram"))
          .limit(30)
      })
,

    // Vocabulary growth (Heaps' law) — cumulative distinct-term count as
    // the corpus is consumed in doc_id order, bucketed into 10 ingest
    // slices: the "is the vocabulary saturating" curve that decides
    // tokenizer vocab size and flags a drifting crawl (a slice with an
    // anomalous new-term rate is q9d's KL spike seen longitudinally).
    // Shape: each term's FIRST document (min doc_id per term — one
    // narrow agg) is what makes cumulative-distinct tractable: no
    // running global distinct, just per-bucket first-occurrence counts.
    // The cumulative fold runs as a triangle join on the 10-row bucket
    // frame — never a global window over corpus rows (the q5x rule;
    // empty-partition windows are banned shapes here even when small).
    QueryDef(
      "q9p_vocab_growth",
      Some("""WITH nn AS (SELECT COUNT(*) AS n FROM documents),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                FROM documents),
        fr AS (SELECT term, MIN(doc_id) AS fd FROM tok GROUP BY term),
        nb AS (SELECT CAST(floor(fd * 10 / CAST((SELECT n FROM nn) AS DOUBLE))
                 AS INT) AS bucket, COUNT(*) AS new_terms
               FROM fr GROUP BY 1),
        tb AS (SELECT CAST(floor(doc_id * 10 / CAST((SELECT n FROM nn) AS DOUBLE))
                 AS INT) AS bucket, COUNT(*) AS toks
               FROM tok GROUP BY 1),
        f AS (SELECT tb.bucket, COALESCE(nb.new_terms, 0) AS new_terms, tb.toks
              FROM tb LEFT JOIN nb USING (bucket))
        SELECT a.bucket, CAST(a.new_terms AS BIGINT) AS new_terms,
          CAST(SUM(b.new_terms) AS BIGINT) AS vocab_size,
          CAST(SUM(b.toks) AS BIGINT) AS tokens_seen
        FROM f a JOIN f b ON b.bucket <= a.bucket
        GROUP BY a.bucket, a.new_terms ORDER BY a.bucket"""),
      (s, dir) => {
        val d = docs(s, dir)
        val n = d.agg(count(lit(1)).as("n")).scalar()
        val tok = d.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val nb = tok.groupBy(col("term")).agg(min(col("doc_id")).as("fd"))
          .select(floor(col("fd") * 10 / n.cast("double")).cast("int")
            .as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("new_terms"))
        val tb = tok
          .select(floor(col("doc_id") * 10 / n.cast("double")).cast("int")
            .as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as("toks"))
        val f = tb.join(nb, Seq("bucket"), "left")
          .select(col("bucket"), coalesce(col("new_terms"), lit(0L))
            .as("new_terms"), col("toks"))
        val b = f.select(col("bucket").as("b2"), col("new_terms").as("nt2"),
          col("toks").as("tk2"))
        f.join(broadcast(b), col("b2") <= col("bucket"))
          .groupBy(col("bucket"), col("new_terms"))
          .agg(sum(col("nt2")).as("vocab_size"), sum(col("tk2"))
            .as("tokens_seen"))
          .select(col("bucket"), col("new_terms"), col("vocab_size"),
            col("tokens_seen"))
          .orderBy(col("bucket"))
      })
,

    // Keyness / distinctive-word analysis — smoothed log-odds with
    // z-scores (the Monroe/Colaresi/Quinn "fightin' words" statistic,
    // additive-0.5 prior): WHICH words distinguish source src0 from the
    // rest of the corpus. q9d says THAT a source drifted (one KL number
    // per source); this attributes the drift to words, with a variance
    // model so rare-word noise doesn't top the list (raw log-odds ranks
    // hapaxes first; the z-score divides by √(1/(y_t+.5)+1/(y_r+.5))
    // and buries them). Shape: one (is_target, word) count agg, totals
    // as scalar subqueries, row-local algebra, top-20 by |z| via
    // TakeOrderedAndProject. ln quantized 9, the q5w idiom; sqrt and
    // division are correctly-rounded, no quantization needed.
    QueryDef(
      "q9x_keyness",
      Some("""WITH tok AS (SELECT source = 'src0' AS tgt,
                unnest(string_split(text, ' ')) AS w
              FROM documents),
        c AS (SELECT w,
                SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS yt,
                SUM(CASE WHEN tgt THEN 0 ELSE 1 END) AS yr
              FROM tok GROUP BY w),
        n AS (SELECT SUM(yt) AS nt, SUM(yr) AS nr FROM c),
        z AS (SELECT w, yt, yr,
                round(ln((yt + CAST(0.5 AS DOUBLE))
                    / ((SELECT nt FROM n) - yt + CAST(0.5 AS DOUBLE))), 9)
                - round(ln((yr + CAST(0.5 AS DOUBLE))
                    / ((SELECT nr FROM n) - yr + CAST(0.5 AS DOUBLE))), 9) + 0
                  AS delta,
                sqrt(CAST(1 AS DOUBLE) / (yt + CAST(0.5 AS DOUBLE))
                  + CAST(1 AS DOUBLE) / (yr + CAST(0.5 AS DOUBLE))) AS sd
              FROM c)
        SELECT w AS word, CAST(yt AS BIGINT) AS n_target,
          CAST(yr AS BIGINT) AS n_rest,
          round(delta / sd, 6) + 0 AS z
        FROM z ORDER BY abs(round(delta / sd, 6)) DESC, word LIMIT 20"""),
      (s, dir) => {
        val tok = docs(s, dir).select((col("source") === "src0").as("tgt"),
          explode(split(col("text"), " ")).as("w"))
        val c = tok.groupBy(col("w")).agg(
          sum(when(col("tgt"), 1L).otherwise(0L)).as("yt"),
          sum(when(col("tgt"), 0L).otherwise(1L)).as("yr"))
        val nt = c.agg(sum(col("yt")).as("nt")).scalar()
        val nr = c.agg(sum(col("yr")).as("nr")).scalar()
        c.select(col("w"), col("yt"), col("yr"),
            (round(log((col("yt") + lit(0.5))
              / (nt - col("yt") + lit(0.5))), 9)
              - round(log((col("yr") + lit(0.5))
                / (nr - col("yr") + lit(0.5))), 9)).as("delta"),
            sqrt(lit(1.0) / (col("yt") + lit(0.5))
              + lit(1.0) / (col("yr") + lit(0.5))).as("sd"))
          .select(col("w").as("word"), col("yt").cast("long").as("n_target"),
            col("yr").cast("long").as("n_rest"),
            round(col("delta") / col("sd"), 6).as("z"))
          .orderBy(abs(col("z")).desc, col("word"))
          .limit(20)
      }),

    // Importance-resampling data selection (DSIR, Xie et al. 2023): score
    // every raw document by how target-like its hashed n-gram profile is
    // — per-feature log(p_target/p_raw) under add-one smoothing, summed
    // over the document's bigram occurrences — and select the docs that
    // look more target than raw (logw > 0). The target domain is the
    // 'src0' source (the q9x keyness convention); features are word
    // bigrams bucketed to 512 ids by a cheap O(1) mix of (first char,
    // last char, length) — production swaps in a real hash, the operator
    // shape is identical. Scale shape: both "distributions" are ≤512-row
    // count frames (shuffles carry bucket ids + counts, never bodies),
    // the log-ratio table broadcasts back onto the feature stream, and
    // the per-doc weight is one map-side-combining aggregate. Totals are
    // in-plan aggregates on the tiny frames (no driver count — the q54
    // lesson). Determinism is the q5w idiom: each ln() term rounds to 9
    // decimals, sums as DECIMAL(30,12), final round 6 — reduction order
    // cannot wiggle the selection boundary.
    QueryDef(
      "qa1_dsir_selection",
      Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
               FROM documents),
        big AS (SELECT doc_id, source, unnest(list_transform(
                  generate_series(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1])) AS g
                FROM toks),
        fe AS (SELECT doc_id, source,
                (ascii(substr(g, 1, 1)) * 31
                 + ascii(substr(g, length(g), 1)) * 17
                 + length(g) * 7) % 512 AS f
               FROM big),
        cr AS (SELECT f, COUNT(*) AS cr FROM fe GROUP BY f),
        ct AS (SELECT f, COUNT(*) AS ct FROM fe WHERE source = 'src0' GROUP BY f),
        tot AS (SELECT (SELECT SUM(cr) FROM cr) AS rr,
                       (SELECT COALESCE(SUM(ct), 0) FROM ct) AS tt),
        term AS (SELECT cr.f,
                  round(ln(((COALESCE(ct.ct, 0) + 1) * (tot.rr + 512)) * 1.0
                    / ((cr.cr + 1) * (tot.tt + 512))), 9) + 0 AS term
                 FROM cr LEFT JOIN ct ON ct.f = cr.f, tot),
        w AS (SELECT fe.doc_id, COUNT(*) AS n_feats,
                SUM(CAST(term.term AS DECIMAL(30,12))) AS wsum
              FROM fe JOIN term ON term.f = fe.f GROUP BY fe.doc_id)
        SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
          ROUND(CAST(wsum AS DOUBLE), 6) + 0 AS logw,
          CAST(CASE WHEN CAST(wsum AS DOUBLE) > 0 THEN 1 ELSE 0 END AS INT)
            AS selected
        FROM w ORDER BY doc_id"""),
      (s, dir) => {
        val fe = dsirFeatures(docs(s, dir))
        fe.join(broadcast(dsirTermTable(fe)), Seq("f"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_feats"), sum(col("term")).as("wsum"))
          .select(col("doc_id"), col("n_feats"),
            round(col("wsum").cast("double"), 6).as("logw"),
            when(col("wsum").cast("double") > 0, 1).otherwise(0)
              .cast("int").as("selected"))
          .orderBy(col("doc_id"))
      }),

    // UniMax corpus mixing (Chung et al. 2023): allocate a total token
    // budget across sources as UNIFORMLY as possible subject to a
    // per-source epoch cap — the waterfilling that replaces q5v's
    // temperature heuristic when over-sampling small sources must be
    // bounded. Budget B = 90% of corpus tokens, cap C = 1 epoch (the
    // downsampling regime: sources below the waterline contribute
    // everything, larger ones are trimmed to the waterline; C and B are
    // the dials). Closed-form waterfilling, all INTEGER arithmetic so
    // both engines agree bit-for-bit: sources rank ascending by
    // (tokens, source); a source is capped iff taking it fully plus a
    // uniform share for every larger source fits the budget; the
    // leftover divides evenly over uncapped sources with the remainder
    // going one token each to the largest (rank among uncapped by
    // tokens DESC). Scale shape: one token-count aggregate over the
    // corpus (shuffle carries (source, count) only), then every
    // waterfilling step runs on the |sources|-row frame via triangular
    // joins — never a window, the q9p idiom — and broadcasts.
    QueryDef(
      "qa2_unimax_mix",
      Some("""WITH tok AS (SELECT source,
                 CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n
               FROM documents GROUP BY source),
        bb AS (SELECT (9 * SUM(n)) // 10 AS b, COUNT(*) AS l FROM tok),
        rk AS (SELECT a.source, a.n, 1 + COUNT(c.source) AS rk,
                 a.n + COALESCE(SUM(c.n), 0) AS cum
               FROM tok a LEFT JOIN tok c
                 ON c.n < a.n OR (c.n = a.n AND c.source < a.source)
               GROUP BY a.source, a.n),
        cap AS (SELECT rk.source, rk.n, rk.rk, rk.cum, bb.b, bb.l,
                 CASE WHEN rk.n * (bb.l - rk.rk + 1) + rk.cum - rk.n <= bb.b
                      THEN 1 ELSE 0 END AS capped
                FROM rk, bb),
        kk AS (SELECT COALESCE(MAX(rk), 0) AS k,
                 COALESCE(MAX(CASE WHEN capped = 1 THEN cum END), 0) AS cumk
               FROM cap WHERE capped = 1),
        par AS (SELECT bb.b - kk.cumk AS r, bb.l - kk.k AS m FROM bb, kk),
        ur AS (SELECT a.source, 1 + COUNT(c.source) AS urk
               FROM cap a LEFT JOIN cap c
                 ON c.capped = 0 AND (c.n > a.n OR (c.n = a.n AND c.source < a.source))
               WHERE a.capped = 0 GROUP BY a.source)
        SELECT cap.source, cap.n AS n_tokens,
          CAST(CASE WHEN cap.capped = 1 THEN cap.n
               ELSE par.r // par.m
                 + CASE WHEN ur.urk <= par.r % par.m THEN 1 ELSE 0 END
               END AS BIGINT) AS alloc_tokens,
          CAST(cap.capped AS INT) AS capped,
          CAST(CASE WHEN cap.capped = 1 THEN cap.n
               ELSE par.r // par.m
                 + CASE WHEN ur.urk <= par.r % par.m THEN 1 ELSE 0 END
               END * 1000 // cap.n AS BIGINT) AS epochs_milli
        FROM cap LEFT JOIN ur ON ur.source = cap.source, par
        ORDER BY cap.source"""),
      (s, dir) =>
        unimaxAllocation(docs(s, dir)
          .select(col("source"), size(split(col("text"), " ")).cast("long").as("nt"))
          .groupBy(col("source")).agg(sum(col("nt")).as("n")))),

    // k-anonymity audit (Sweeney 2002) — the release-readiness check a
    // privacy pipeline runs before publishing record-level data: every
    // quasi-identifier equivalence class with fewer than k=5 members is
    // re-identifiable and must be generalized or suppressed. QI here is
    // (c_nationkey, c_mktsegment, acctbal-per-1000 bin) over customer;
    // the output is the VIOLATING tail only, each class carrying the
    // size its one-step generalization (drop the balance bin) would
    // reach, so the caller knows which violations generalization fixes
    // (gen_ok=1) and which need suppression. Scale shape: one narrow
    // map-side-combined groupBy on the QI key; the generalized level
    // re-aggregates the ALREADY-AGGREGATED class frame (a rollup over
    // |classes| rows, not a second corpus pass); only the violating
    // tail is emitted. All-integer arithmetic (floor to a bin, counts),
    // so both engines agree bit-for-bit. q9h is this family's release
    // side (DP noise on published counts); this is the audit side.
    QueryDef(
      "qa6_k_anonymity",
      Some("""WITH q AS (SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bin
               FROM customer),
        l0 AS (SELECT c_nationkey, c_mktsegment, bal_bin, COUNT(*) AS n0
               FROM q GROUP BY 1, 2, 3),
        l1 AS (SELECT c_nationkey, c_mktsegment, SUM(n0) AS n1
               FROM l0 GROUP BY 1, 2)
        SELECT l0.c_nationkey, l0.c_mktsegment, l0.bal_bin,
          CAST(l0.n0 AS BIGINT) AS n0, CAST(l1.n1 AS BIGINT) AS n1,
          CAST(CASE WHEN l1.n1 >= 5 THEN 1 ELSE 0 END AS INT) AS gen_ok
        FROM l0 JOIN l1 USING (c_nationkey, c_mktsegment)
        WHERE l0.n0 < 5
        ORDER BY c_nationkey, c_mktsegment, bal_bin"""),
      (s, dir) => {
        val q = Tables.load(s, dir, "customer").select(
          col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bin"))
        val l0 = q.groupBy(col("c_nationkey"), col("c_mktsegment"),
            col("bal_bin"))
          .agg(count(lit(1)).as("n0"))
        val l1 = l0.groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(sum(col("n0")).as("n1"))
        l0.join(l1, Seq("c_nationkey", "c_mktsegment"))
          .filter(col("n0") < 5)
          .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bin"),
            col("n0"), col("n1"),
            when(col("n1") >= 5, 1).otherwise(0).cast("int").as("gen_ok"))
          .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bin"))
      }),

    // l-diversity audit (Machanavajjhala et al. 2006) — qa6's k-anonymity
    // counts ROWS per quasi-identifier class, which a homogeneity attack
    // defeats: a class of 50 records all sharing one sensitive value
    // discloses that value to anyone who knows the QI. This audits the
    // SENSITIVE dimension: per (nation, balance-bin) class, how many
    // distinct market segments appear (l) and how dominant the top one
    // is (top_share_ppm — even l >= 3 can be 98% one value, the
    // probabilistic-disclosure signal). Violating tail = classes with
    // l < 3. Scale shape: ONE corpus pass groups (QI, sensitive) with
    // map-side combine; class stats (n = Σ, l = count, max share) fold
    // over that already-aggregated frame — the corpus is never
    // re-scanned and rows never shuffle twice. All integer.
    QueryDef(
      "qa9_l_diversity",
      Some("""WITH seg AS (SELECT c_nationkey,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bin,
                 c_mktsegment, COUNT(*) AS ns
               FROM customer GROUP BY 1, 2, 3),
        cls AS (SELECT c_nationkey, bal_bin, SUM(ns) AS n,
                 COUNT(*) AS l, MAX(ns) AS maxs
                FROM seg GROUP BY 1, 2)
        SELECT c_nationkey, bal_bin, CAST(n AS BIGINT) AS n,
          CAST(l AS INT) AS l,
          CAST(maxs * 1000000 // n AS BIGINT) AS top_share_ppm
        FROM cls WHERE l < 3
        ORDER BY c_nationkey, bal_bin"""),
      (s, dir) => {
        val seg = Tables.load(s, dir, "customer")
          .select(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).cast("long").as("bal_bin"),
            col("c_mktsegment"))
          .groupBy(col("c_nationkey"), col("bal_bin"), col("c_mktsegment"))
          .agg(count(lit(1)).as("ns"))
        seg.groupBy(col("c_nationkey"), col("bal_bin"))
          .agg(sum(col("ns")).as("n"), count(lit(1)).as("l"),
            max(col("ns")).as("maxs"))
          .filter(col("l") < 3)
          .select(col("c_nationkey"), col("bal_bin"), col("n"),
            col("l").cast("int").as("l"),
            expr("(maxs * 1000000) div n").as("top_share_ppm"))
          .orderBy(col("c_nationkey"), col("bal_bin"))
      }),

    // Tokenizer fertility per corpus slice — the standard tokenizer-eval
    // table (tokens per word, chars per token) a multilingual pipeline
    // produces to see which languages/sources a vocabulary serves badly
    // (high fertility = more tokens per word = that slice pays more
    // sequence length for the same text). Uses the SAME trained merges
    // and row-local encode q91 certifies per-document ([[bpeEncodeCols]]
    // over the broadcast [[bpeMergeFrame]]); the slice metadata rides
    // THROUGH the encode (keep columns), so the aggregate needs no join
    // back to the corpus — one embarrassingly-parallel encode pass, one
    // map-side-combined groupBy on (lang, source). Ratios are integer
    // ppm (div), bit-identical across engines.
    QueryDef(
      "qa7_token_fertility",
      Some(s"""WITH ${bpeEncodeCntCte("TRUE", "TRUE")},
        j AS (SELECT d.lang, d.source, d.n_chars, c.n_words, c.n_tokens
              FROM cnt c JOIN documents d USING (doc_id))
        SELECT lang, source,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_words) AS BIGINT) AS n_words,
          CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
          CAST(SUM(n_tokens) * 1000000 // NULLIF(SUM(n_words), 0)
            AS BIGINT) AS fertility_ppm,
          CAST(SUM(n_chars) * 1000000 // NULLIF(SUM(n_tokens), 0)
            AS BIGINT) AS chars_per_token_ppm
        FROM j GROUP BY lang, source ORDER BY lang, source"""),
      (s, dir) => {
        val d = docs(s, dir)
        bpeEncodeCols(
            d.crossJoin(broadcast(bpeMergeFrame(d))),
            keep = Seq("lang", "source", "n_chars"))
          .groupBy(col("lang"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_words")).as("n_words"),
            sum(col("n_tokens")).as("n_tokens"),
            sum(col("n_chars")).as("nc"))
          .select(col("lang"), col("source"), col("n_docs"),
            col("n_words"), col("n_tokens"),
            expr("(n_tokens * 1000000) div nullif(n_words, 0)")
              .as("fertility_ppm"),
            expr("(nc * 1000000) div nullif(n_tokens, 0)")
              .as("chars_per_token_ppm"))
          .orderBy(col("lang"), col("source"))
      }),

    // t-closeness audit (Li et al. 2007) — the third leg of the privacy
    // trio: qa6 counts rows per QI class (re-identification), qa9 counts
    // distinct sensitive values (homogeneity), but a class whose sensitive
    // DISTRIBUTION is skewed far from the corpus-wide one still leaks
    // (the "skewness attack": l >= 3 salaries that are all in the top
    // bins tells an observer plenty). This audits that: per QI class
    // (nation, segment), the Earth Mover's Distance between the class's
    // distribution over the ORDERED sensitive attribute (balance bin) and
    // the global distribution — for ordinal data EMD is the mean of
    // |cumulative-difference| prefixes (Li et al. §5.1). Everything is
    // integer-exact: the prefix term at bin v is cum(cv*N - gv*n), a
    // cumsum of integers, so emd_ppm = sum(|cum|)*1e6 div ((m-1)*n*N)
    // bit-matches across engines (headroom note: n*N*1e6 must stay under
    // 2^63 — fine for classes of 1e4 rows in a 1e8 corpus; at web scale
    // widen the bins or pre-divide). Scale shape: ONE corpus pass groups
    // (QI, bin) with map-side combine; the grid (|classes| x m rows),
    // the global bin table, and the totals are all aggregated frames —
    // broadcast joins, a cumsum window partitioned by class (never
    // empty-partitioned), no second corpus scan.
    QueryDef(
      "qab_t_closeness",
      Some("""WITH q AS (SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS v
               FROM customer
               WHERE c_nationkey IS NOT NULL AND c_mktsegment IS NOT NULL
                 AND c_acctbal IS NOT NULL),
        g AS (SELECT v, COUNT(*) AS gv FROM q GROUP BY v),
        tot AS (SELECT (SELECT COUNT(*) FROM q) AS nn,
                  (SELECT COUNT(*) FROM g) AS m),
        cv AS (SELECT c_nationkey, c_mktsegment, v, COUNT(*) AS cvn
               FROM q GROUP BY 1, 2, 3),
        cls AS (SELECT c_nationkey, c_mktsegment, SUM(cvn) AS n
                FROM cv GROUP BY 1, 2),
        grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.n,
                  g.v, g.gv, COALESCE(cv.cvn, 0) AS cvn
                FROM cls CROSS JOIN g
                LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
                  AND cv.c_mktsegment = cls.c_mktsegment AND cv.v = g.v),
        cum AS (SELECT c_nationkey, c_mktsegment, n,
                  SUM(cvn * tot.nn - gv * n) OVER (
                    PARTITION BY c_nationkey, c_mktsegment ORDER BY v) AS d,
                  tot.nn, tot.m
                FROM grid, tot),
        e AS (SELECT c_nationkey, c_mktsegment, n, SUM(ABS(d)) AS sd,
                MAX(nn) AS nn, MAX(m) AS m
              FROM cum GROUP BY 1, 2, 3)
        SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n,
          CAST(sd * 1000000 // NULLIF((m - 1) * n * nn, 0) AS BIGINT)
            AS emd_ppm,
          CAST(CASE WHEN COALESCE(
              sd * 1000000 // NULLIF((m - 1) * n * nn, 0), 0) <= 250000
            THEN 1 ELSE 0 END AS INT) AS t_ok
        FROM e ORDER BY c_nationkey, c_mktsegment"""),
      (s, dir) => {
        // the explicit non-null guard matches the isNotNull filters the
        // optimizer infers for the grid's outer-join branch, so all four
        // re-aggregations of cv canonicalize to ONE scan subtree and AQE
        // exchange reuse collapses them to a single corpus pass
        val q = Tables.load(s, dir, "customer")
          .filter(col("c_nationkey").isNotNull && col("c_mktsegment").isNotNull
            && col("c_acctbal").isNotNull)
          .select(
            col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).cast("long").as("v"))
          .filter(col("v").isNotNull) // the grid join also infers this
        val cv = q.groupBy(col("c_nationkey"), col("c_mktsegment"), col("v"))
          .agg(count(lit(1)).as("cvn"))
        // global bin histogram folds from the (QI, bin) frame — the corpus
        // is scanned exactly once; g/tot/cls are all re-aggregations
        val g = cv.groupBy(col("v")).agg(sum(col("cvn")).as("gv"))
        val tot = g.agg(sum(col("gv")).as("nn"), count(lit(1)).as("m"))
        val cls = cv.groupBy(col("c_nationkey"), col("c_mktsegment"))
          .agg(sum(col("cvn")).as("n"))
        val grid = cls.crossJoin(broadcast(g))
          .join(cv, Seq("c_nationkey", "c_mktsegment", "v"), "left")
          .withColumn("cvn", coalesce(col("cvn"), lit(0L)))
          .crossJoin(broadcast(tot))
        val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
          .orderBy(col("v"))
        grid
          .withColumn("d",
            sum(col("cvn") * col("nn") - col("gv") * col("n")).over(w))
          .groupBy(col("c_nationkey"), col("c_mktsegment"), col("n"))
          .agg(sum(abs(col("d"))).as("sd"),
            max(col("nn")).as("nn"), max(col("m")).as("m"))
          .select(col("c_nationkey"), col("c_mktsegment"), col("n"),
            expr("(sd * 1000000) div nullif((m - 1) * n * nn, 0)")
              .as("emd_ppm"),
            when(coalesce(
                expr("(sd * 1000000) div nullif((m - 1) * n * nn, 0)"),
                lit(0L)) <= 250000, 1)
              .otherwise(0).cast("int").as("t_ok"))
          .orderBy(col("c_nationkey"), col("c_mktsegment"))
      }),

    // Unigram-LM tokenizer training (Kudo 2018) — the OTHER production
    // tokenizer family (q90's BPE merges grow a vocabulary; unigram
    // prunes one under a probabilistic model). Deterministic Viterbi-EM
    // with quantized integer costs, unrolled TWO full rounds on both
    // engines — round 2's counts certify round 1's complete M-step
    // (pruning, char smoothing, requantization). Per-round
    // `_fertility_ppm` rows are directly comparable to qa7's BPE
    // fertility_ppm. Design + scale shape: [[graft.operators.UnigramLm]].
    QueryDef(
      "qal_unigram_lm",
      Some(graft.operators.UnigramLm.oracleSql),
      (s, dir) => graft.operators.UnigramLm.train(docs(s, dir))),

    // Unigram-LM corpus ENCODE — qal's q91 analogue (train once, encode
    // 100 TB): the final-round segmentation collapses to a vocab-sized
    // (word, piece-count) table that broadcasts onto the document scan;
    // the corpus pass is one explode + broadcast join + per-doc agg,
    // zero shuffles beyond training. fertility_ppm is directly
    // comparable to qa7's BPE number. The oracle shares qal's full
    // training CTE chain, so this query re-certifies training AND
    // proves the encode consumes exactly what training produced.
    QueryDef(
      "qap_unigram_encode",
      Some(graft.operators.UnigramLm.encodeOracleSql),
      (s, dir) => graft.operators.UnigramLm.encodeCorpus(docs(s, dir))),

    // WordPiece tokenizer training (Schuster & Nakajima 2012; the BERT
    // family) — the THIRD production tokenizer family, completing the
    // triad: BPE (q90) merges by raw pair count, unigram (qal) prunes
    // under a probabilistic model, WordPiece merges by LIKELIHOOD gain
    // score(a,b) = freq(ab)/(freq(a)·freq(b)) — exact fixed-point
    // integer algebra in 128-bit intermediates (DECIMAL(38) / HUGEINT),
    // so the argmax survives corpus scales that silently overflow
    // int64. The output dumps each round's full scoring evidence
    // (pair count, BOTH unit frequencies, the fixed-point score), so
    // the hash certifies the likelihood algebra itself. Design + scale
    // shape: [[graft.operators.WordPiece]].
    QueryDef(
      "qar_wordpiece_train",
      Some(graft.operators.WordPiece.oracleSql),
      (s, dir) => graft.operators.WordPiece.train(docs(s, dir))),

    // WordPiece MaxMatch corpus encode — greedy longest-match-first
    // against the trained vocabulary (the BERT tokenizer's encode,
    // provably different from BPE merge replay: WordPieceSpec pins a
    // witness). The cursor walk is row-local (one aggregate HOF per
    // vocabulary word, MaxSteps bounded), the per-word token counts
    // broadcast onto the document scan, and per-doc fertility_ppm is
    // directly comparable to q91 (BPE) and qap (unigram) — the
    // train-once / encode-100-TB shape shared by all three families.
    // The oracle re-runs the full training chain and replays every
    // cursor stage, so a drift in either half shows.
    QueryDef(
      "qas_wordpiece_encode",
      Some(graft.operators.WordPiece.encodeOracleSql),
      (s, dir) => graft.operators.WordPiece.encodeCorpus(docs(s, dir))),

    // Model-based quality filtering, trained IN the engine (GPT-3's
    // classifier-selection step, arXiv:2005.14165 App. A): full-batch
    // gradient descent on a linear scorer separating the 'src0'
    // reference slice (qa1's DSIR target — the two selection families
    // share a target), in exact fixed-point integer arithmetic with
    // 128-bit accumulations. Three unrolled rounds; each is ONE narrow
    // gradient aggregation (map-side combine) + one scoring pass under
    // the updated broadcast weights. The per-round loss_fp column
    // decreases monotonically (StepDiv clears the GD stability bound —
    // see the operator scaladoc), and the oracle replays every
    // gradient, every truncating division, every margin sum. Design:
    // [[graft.operators.QualityClassifier]].
    QueryDef(
      "qav_quality_classifier",
      Some(graft.operators.QualityClassifier.oracleSql),
      (s, dir) => graft.operators.QualityClassifier.train(docs(s, dir))),

    // Kneser-Ney-smoothed LM perplexity filtering (Kneser & Ney 1995;
    // the CCNet pipeline, Wenzek et al. 2020, arXiv:1911.00359) — the
    // PRODUCTION perplexity filter q5w's in-corpus MLE scorer cannot
    // be: q5w trains and scores on the same corpus (every bigram seen);
    // filtering requires training on a REFERENCE slice and scoring
    // held-out text, which is exactly where unsmoothed MLE emits
    // log(0). Interpolated KN with absolute discount D = 0.75 (exact
    // in binary): P(w2|w1) = max(c12-D,0)/c1 + (D·N1+(w1·)/c1)·Pcont,
    // Pcont = N1+(·w2)/|bigram types|; unseen context backs off to
    // Pcont; a spec'd 2^-20 floor covers never-seen right contexts.
    // All probabilities are single-expression doubles from int64
    // counts (identical op order both engines), ln rounds to 9 (the
    // q5w idiom), per-doc sums ride DECIMAL(30,12). Every doc then
    // gets CCNet's head/middle/tail verdict by perplexity tercile —
    // the global rank is StableIds' two-phase numbering, never a
    // single-task window. Scale: training aggregates are vocab-sized;
    // scoring is one broadcast-joined corpus pass; the shuffle carries
    // grams + counts, never bodies.
    QueryDef(
      "qb1_kn_perplexity",
      Some(s"""WITH ${knTrainCtesSql("doc_id < 250")},
        ${knScoreCtesSql("TRUE", "")},
        rk AS (SELECT doc_id, n_bigrams, avg_neg_logp,
                 row_number() OVER (ORDER BY avg_neg_logp, doc_id) AS rn,
                 COUNT(*) OVER () AS n
               FROM sc)
        SELECT doc_id, n_bigrams, avg_neg_logp,
          CASE (rn - 1) * 3 // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
            ELSE 'tail' END AS bucket
        FROM rk ORDER BY doc_id"""),
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), split(col("text"), " ").as("t"))
          .filter(size(col("t")) >= 2)
        val trb = toks.filter(col("doc_id") < 250)
          .select(explode(expr(
            "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
            .as("g"))
        val bc = trb.groupBy(col("g")).agg(count(lit(1)).as("c12"))
        val w1s = bc.groupBy(substring_index(col("g"), " ", 1).as("w1"))
          .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
        val w2s = bc.groupBy(substring_index(col("g"), " ", -1).as("w2"))
          .agg(count(lit(1)).as("nctx"))
        val nt = bc.agg(count(lit(1)).as("ntypes"))
        val sb = toks.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
          .as("g"))
        val scored = sb
          .join(bc, Seq("g"), "left")
          .join(w1s, substring_index(col("g"), " ", 1) === col("w1"), "left")
          .join(w2s, substring_index(col("g"), " ", -1) === col("w2"), "left")
          .crossJoin(broadcast(nt))
          .withColumn("p", greatest(
            when(col("w1").isNotNull,
              greatest(coalesce(col("c12"), lit(0L)) - lit(0.75), lit(0.0))
                / col("c1")
                + (lit(0.75) * col("n1fw") / col("c1"))
                  * (coalesce(col("nctx"), lit(0L)) * lit(1.0) / col("ntypes")))
              .otherwise(
                coalesce(col("nctx"), lit(0L)) * lit(1.0) / col("ntypes")),
            lit(9.5367431640625e-7)))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            round(sum(round(-log(col("p")), 9).cast("decimal(30,12)"))
              .cast("double") / count(lit(1)), 6).as("avg_neg_logp"))
        val n = scored.agg(count(lit(1)).as("n"))
        graft.operators.StableIds.assign(scored,
            Seq(col("avg_neg_logp"), col("doc_id")), 32, "rn")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("n_bigrams"), col("avg_neg_logp"),
            when(expr("(rn - 1) * 3 div n") === 0, "head")
              .when(expr("(rn - 1) * 3 div n") === 1, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy(col("doc_id"))
      })
  )

  // ---------------------------------------------------------------- KN LM
  // (qb1 + q8v): interpolated Kneser-Ney bigram model pieces, shared so
  // the batch query and the streaming serve can never drift.

  /** DuckDB CTEs trt/trb/bc/w1s/w2s/nt: KN stats trained over documents
    * matching `pred`. */
  private[queries] def knTrainCtesSql(pred: String): String =
    s"""trt AS (SELECT string_split(text, ' ') AS t
         FROM documents WHERE ($pred) AND len(string_split(text, ' ')) >= 2),
       trb AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i+1])) AS g FROM trt),
       bc AS (SELECT g, COUNT(*) AS c12 FROM trb GROUP BY g),
       w1s AS (SELECT split_part(g, ' ', 1) AS w1, SUM(c12) AS c1,
                 COUNT(*) AS n1fw FROM bc GROUP BY 1),
       w2s AS (SELECT split_part(g, ' ', 2) AS w2, COUNT(*) AS nctx
               FROM bc GROUP BY 1),
       nt AS (SELECT COUNT(*) AS ntypes FROM bc)"""

  /** DuckDB CTEs sd$sfx/sb$sfx/pr$sfx/sc$sfx: per-doc KN scores
    * (doc_id, n_bigrams, avg_neg_logp) for documents matching `pred`,
    * under the [[knTrainCtesSql]] stats. The probability is ONE
    * expression over int64 counts — identical op order to the engine
    * side, ln rounded to 9, sums in DECIMAL(30,12). */
  private[queries] def knScoreCtesSql(pred: String, sfx: String): String =
    s"""sd$sfx AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
              WHERE ($pred) AND len(string_split(text, ' ')) >= 2),
       sb$sfx AS (SELECT doc_id, unnest(list_transform(
                generate_series(1, len(t) - 1),
                i -> t[i] || ' ' || t[i+1])) AS g FROM sd$sfx),
       pr$sfx AS (SELECT s.doc_id,
                greatest(CASE WHEN w1s.w1 IS NOT NULL THEN
                    greatest(COALESCE(bc.c12, 0) - 0.75, 0.0) / w1s.c1
                    + (0.75 * w1s.n1fw / w1s.c1)
                      * (COALESCE(w2s.nctx, 0) * 1.0 / nt.ntypes)
                  ELSE COALESCE(w2s.nctx, 0) * 1.0 / nt.ntypes END,
                  9.5367431640625e-7) AS p
              FROM sb$sfx s
              LEFT JOIN bc ON bc.g = s.g
              LEFT JOIN w1s ON w1s.w1 = split_part(s.g, ' ', 1)
              LEFT JOIN w2s ON w2s.w2 = split_part(s.g, ' ', 2), nt),
       sc$sfx AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                ROUND(CAST(SUM(CAST(round(-ln(p), 9) AS DECIMAL(30,12)))
                  AS DOUBLE) / COUNT(*), 6) + 0 AS avg_neg_logp
              FROM pr$sfx GROUP BY doc_id)"""

  /** q8v's trained KN model as narrow LOOKUP TABLES instead of the
    * three map columns of the one-row model frame it replaced
    * (`KnServeSpec.knModelFrame`, kept as the spec's reference) —
    * (pT (g, p), lT (w1, lw), cT (w2, cw), cuts (b1, b2)).
    * Values are built by the EXACT expressions the map variant stores, so
    * a broadcast-hash-join lookup returns bit-for-bit what
    * `element_at(map, key)` returns. The point is the lookup cost:
    * Catalyst's `element_at` over a MapData column is a LINEAR SCAN per
    * call (q8v's serve measured ~5 s for ~252k bigrams × 3 probes over a
    * 909-entry pmap — guide §1.2 step 2), while a broadcast hash join
    * probes O(1) per row. The training aggregate `bc` is materialized
    * ONCE ([[graft.operators.IterationCheckpoint.cut]]) because the
    * cutoffs chain executes eagerly inside StableIds' checkpoint and
    * would otherwise re-run the tokenize+count subtree per action (guide
    * §1.2 step 1). `KnServeSpec` pins the join scorer frame-identical to
    * the map scorer (`KnServeSpec.knScoreCols`). */
  private[graft] def knModelTables(
      dTrain: DataFrame): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val toks = dTrain
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
    val trb = toks.select(explode(expr(
      "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
      .as("g"))
    val bc = graft.operators.IterationCheckpoint.cut(
      trb.groupBy(col("g")).agg(count(lit(1)).as("c12")))
    val w1s = bc.groupBy(substring_index(col("g"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val w2s = bc.groupBy(substring_index(col("g"), " ", -1).as("w2"))
      .agg(count(lit(1)).as("nctx"))
    val nt = bc.agg(count(lit(1)).as("ntypes"))
    val pT = bc
      .join(w1s, substring_index(col("g"), " ", 1) === col("w1"))
      .join(w2s, substring_index(col("g"), " ", -1) === col("w2"))
      .crossJoin(broadcast(nt))
      .select(col("g"), greatest(
        greatest(coalesce(col("c12"), lit(0L)) - lit(0.75), lit(0.0))
          / col("c1")
          + (lit(0.75) * col("n1fw") / col("c1"))
            * (coalesce(col("nctx"), lit(0L)) * lit(1.0) / col("ntypes")),
        lit(9.5367431640625e-7)).as("p"))
    val lT = w1s.select(col("w1"),
      (lit(0.75) * col("n1fw") / col("c1")).as("lw"))
    val cT = w2s.crossJoin(broadcast(nt))
      .select(col("w2"),
        (col("nctx") * lit(1.0) / col("ntypes")).as("cw"))
    val trScored = knScoreDocs(toks, bc, w1s, w2s, nt)
    val nF = trScored.agg(count(lit(1)).as("n"))
    val ranked = graft.operators.StableIds.assign(trScored,
      Seq(col("avg_neg_logp"), col("doc_id")), 8, "rn")
      .crossJoin(broadcast(nF))
    // broadcast one side: a bare crossJoin of two 32-partition 1-row
    // frames plans a 1024-partition CartesianProduct (and a persisted
    // plan skips AQE coalescing — measured 3.1 s to count ONE row)
    val cuts = ranked.filter(col("rn") === expr("(n + 2) div 3"))
      .select(col("avg_neg_logp").as("b1"))
      .crossJoin(broadcast(ranked.filter(col("rn") === expr("(2 * n + 2) div 3"))
        .select(col("avg_neg_logp").as("b2"))))
      .coalesce(1)
    (pT, lT, cT, cuts)
  }

  /** The join-formulated twin of the map scorer (`KnServeSpec.knScoreCols`,
    * kept as the spec's reference): score + classify a
    * (doc_id, text) BATCH against the [[knModelTables]] lookup tables —
    * explode the bigrams, probe the three tables via broadcast hash
    * joins (O(1) per probe vs element_at's linear map scan), fold per
    * doc. The per-bigram probability is the same expression tree; the
    * per-doc sum is over DECIMAL(30,12) addends, which is EXACT, so
    * regrouping the fold into a SUM aggregate cannot move any double
    * (`KnServeSpec` pins the frames identical). Used from q8v's
    * foreachBatch — a per-micro-batch aggregation over rows whose doc is
    * wholly contained in the batch, so batch-local grouping IS per-doc
    * grouping. */
  private[graft] def knScoreBatch(batch: DataFrame, pT: DataFrame,
      lT: DataFrame, cT: DataFrame, cuts: DataFrame): DataFrame =
    batch
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
        .as("g"))
      .join(broadcast(pT), Seq("g"), "left")
      .join(broadcast(lT),
        substring_index(col("g"), " ", 1) === col("w1"), "left")
      .join(broadcast(cT),
        substring_index(col("g"), " ", -1) === col("w2"), "left")
      .withColumn("pp", greatest(
        coalesce(col("p"),
          when(col("lw").isNotNull,
            col("lw") * coalesce(col("cw"), lit(0.0)))
            .otherwise(coalesce(col("cw"), lit(0.0)))),
        lit(9.5367431640625e-7)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(round(-log(col("pp")), 9).cast("decimal(30,12)"))
          .cast("double") / count(lit(1)), 6).as("avg_neg_logp"))
      .crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_bigrams"), col("avg_neg_logp"),
        when(col("avg_neg_logp") <= col("b1"), "head")
          .when(col("avg_neg_logp") <= col("b2"), "middle")
          .otherwise("tail").as("bucket"))

  /** Per-doc KN scores (doc_id, n_bigrams, avg_neg_logp) for a
    * (doc_id, t) token frame under CALLER-SUPPLIED stat frames — the
    * exact batch scoring qb1 runs, reused for the model's cutoffs: lets
    * [[knModelTables]] hand in the already-materialized `bc` so the
    * cutoffs chain reads checkpoint blocks instead of re-running the
    * tokenize+count subtree. */
  private[graft] def knScoreDocs(toks: DataFrame, bc: DataFrame, w1s: DataFrame,
      w2s: DataFrame, nt: DataFrame): DataFrame = {
    toks.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
        .as("g"))
      .join(bc, Seq("g"), "left")
      .join(w1s, substring_index(col("g"), " ", 1) === col("w1"), "left")
      .join(w2s, substring_index(col("g"), " ", -1) === col("w2"), "left")
      .crossJoin(broadcast(nt))
      .withColumn("p", greatest(
        when(col("w1").isNotNull,
          greatest(coalesce(col("c12"), lit(0L)) - lit(0.75), lit(0.0))
            / col("c1")
            + (lit(0.75) * col("n1fw") / col("c1"))
              * (coalesce(col("nctx"), lit(0L)) * lit(1.0) / col("ntypes")))
          .otherwise(
            coalesce(col("nctx"), lit(0L)) * lit(1.0) / col("ntypes")),
        lit(9.5367431640625e-7)))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(round(-log(col("p")), 9).cast("decimal(30,12)"))
          .cast("double") / count(lit(1)), 6).as("avg_neg_logp"))
  }

  /** qa1's hashed-bigram feature stream over a (doc_id, source, text)
    * frame: one row per bigram OCCURRENCE with its 512-bucket id. The
    * size >= 2 guard keeps Spark's sequence(1, 0) from walking DOWN and
    * fabricating grams for single-token docs (the q5w lesson). */
  private[graft] def dsirFeatures(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("source"),
        explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
          .as("g"))
      .select(col("doc_id"), col("source"),
        ((ascii(substring(col("g"), 1, 1)) * 31
          + ascii(expr("substring(g, length(g), 1)")) * 17
          + length(col("g")) * 7) % 512).as("f"))

  /** qa1's per-feature count frame joined with in-plan totals:
    * (f, cr, ct, rr, tt) — raw/target occurrence counts per bucket plus
    * corpus totals, ≤512 rows. Target = the 'src0' source. */
  private def dsirCounts(fe: DataFrame): DataFrame = {
    val cr = fe.groupBy(col("f")).agg(count(lit(1)).as("cr"))
    val ct = fe.filter(col("source") === "src0")
      .groupBy(col("f")).agg(count(lit(1)).as("ct"))
    val counts = cr.join(ct, Seq("f"), "left")
      .withColumn("ct", coalesce(col("ct"), lit(0L)))
    val tot = counts.agg(sum(col("cr")).as("rr"), sum(col("ct")).as("tt"))
    counts.crossJoin(broadcast(tot))
  }

  /** qa1's trained log-ratio table (f, term): round-9 ln of the add-one
    * smoothed target/raw probability ratio, as exact DECIMAL(30,12) so
    * summation order cannot move the selection boundary. */
  private[graft] def dsirTermTable(fe: DataFrame): DataFrame =
    dsirCounts(fe)
      .withColumn("term",
        round(log(((col("ct") + 1) * (col("rr") + 512)).cast("double")
          / ((col("cr") + 1) * (col("tt") + 512))), 9)
          .cast("decimal(30,12)"))
      .select(col("f"), col("term"))

  /** The trained DSIR model as ONE broadcastable row for the streaming
    * serve path (q8p): the term table folded to a map<int, decimal> plus
    * the unseen-bucket fallback term (ct=0, cr=0 in the smoothed ratio —
    * ln((rr+512)/(tt+512))), both round-9/decimal like the table. */
  private[graft] def dsirModelFrame(d: DataFrame): DataFrame = {
    val fe = dsirFeatures(d)
    val terms = dsirTermTable(fe)
      .agg(map_from_entries(collect_list(struct(col("f"), col("term"))))
        .as("tmap"))
    val prior = dsirCounts(fe).limit(1)
      .select(round(log(((col("rr") + 512)).cast("double")
        / (col("tt") + 512)), 9).cast("decimal(30,12)").as("prior"))
    terms.crossJoin(prior)
  }

  /** Row-local DSIR scoring of a (doc_id, text) frame against a joined
    * model row (tmap, prior): the whole per-doc weight is one aggregate
    * HOF over the doc's bigram buckets — zero shuffle, which is what
    * lets the same columns serve inside a stateless streaming
    * micro-batch plan (q8p). Docs with fewer than 2 tokens are dropped,
    * like qa1. */
  private[graft] def dsirScoreCols(withModel: DataFrame): DataFrame =
    withModel
      .withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .withColumn("gs", expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
      .withColumn("fs", expr(
        """transform(gs, g -> (ascii(substring(g, 1, 1)) * 31
           + ascii(substring(g, length(g), 1)) * 17
           + length(g) * 7) % 512)"""))
      .withColumn("wsum", expr(
        """aggregate(fs, CAST(0 AS DECIMAL(30,12)),
           (acc, f) -> CAST(acc + coalesce(element_at(tmap, f), prior)
             AS DECIMAL(30,12)))"""))
      .select(col("doc_id"),
        size(col("fs")).cast("long").as("n_feats"),
        round(col("wsum").cast("double"), 6).as("logw"),
        when(col("wsum").cast("double") > 0, 1).otherwise(0)
          .cast("int").as("selected"))

  /** The qa2 waterfilling engine on any (source, n) frame — exposed for
    * the property spec (random size profiles vs a driver-side reference
    * loop). Budget is 90% of Σn, cap 1 epoch; all integer arithmetic
    * (see the qa2 QueryDef doc). */
  private[graft] def unimaxAllocation(tok: DataFrame): DataFrame = {
    // div, not / — Spark's / on longs is true division (double)
    val bb = tok.agg(sum(col("n")).as("t"), count(lit(1)).as("l"))
      .select(expr("(9 * t) div 10").as("b"), col("l"))
    // ascending rank + inclusive cumulative sum via triangular join
    // (|sources|-row frame — the q9p idiom, never a window)
    val rk = tok.as("a")
      .join(tok.select(col("source").as("cs"), col("n").as("cn")),
        col("cn") < col("n") ||
          (col("cn") === col("n") && col("cs") < col("source")), "left")
      .groupBy(col("source"), col("n"))
      .agg((count(col("cs")) + 1).as("rk"),
        (coalesce(sum(col("cn")), lit(0L)) + col("n")).as("cum"))
    val cap = rk.crossJoin(broadcast(bb))
      .withColumn("capped",
        when(col("n") * (col("l") - col("rk") + 1) + col("cum") - col("n")
          <= col("b"), 1).otherwise(0))
    val kk = cap.filter(col("capped") === 1)
      .agg(coalesce(max(col("rk")), lit(0L)).as("k"),
        coalesce(max(when(col("capped") === 1, col("cum"))), lit(0L)).as("cumk"))
    val par = bb.crossJoin(kk)
      .select((col("b") - col("cumk")).as("r"), (col("l") - col("k")).as("m"))
    val unc = cap.filter(col("capped") === 0)
    val ur = unc.as("a")
      .join(unc.select(col("source").as("cs"), col("n").as("cn")),
        col("cn") > col("n") ||
          (col("cn") === col("n") && col("cs") < col("source")), "left")
      .groupBy(col("source")).agg((count(col("cs")) + 1).as("urk"))
    cap.join(ur, Seq("source"), "left").crossJoin(broadcast(par))
      .withColumn("alloc_tokens",
        when(col("capped") === 1, col("n"))
          .otherwise(expr("r div m") +
            when(col("urk") <= col("r") % col("m"), 1L).otherwise(0L))
          .cast("long"))
      .select(col("source"), col("n").as("n_tokens"), col("alloc_tokens"),
        col("capped").cast("int").as("capped"),
        expr("(alloc_tokens * 1000) div n").cast("long").as("epochs_milli"))
      .orderBy(col("source"))
  }

  /** DuckDB CTE chain extracting the corpus's top-`k` word bigrams
    * (count DESC, phrase ASC — the engine's argmax tie-break) as CTE
    * `topbg(pat)`, over documents matching `pred`. Oracle mirror of
    * [[topBigrams]]; shared by q93 / q96 / q8k. */
  private[queries] def topBigramsCteSql(k: Int, pred: String = "TRUE"): String =
    s"""bgl AS (SELECT string_split(text, ' ') AS w
                FROM documents WHERE $pred),
        bgp AS (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM bgl),
        bg AS (SELECT w[i] || ' ' || w[i + 1] AS pat, COUNT(*) AS c
               FROM bgp GROUP BY 1),
        topbg AS (SELECT pat FROM bg ORDER BY c DESC, pat LIMIT $k)"""

  /** Top-`k` space-joined word bigrams of `df`'s `text` column by
    * frequency (count DESC, phrase ASC): one narrow (bigram, Σ1) shuffle
    * then a TakeOrderedAndProject — no corpus re-shuffle, no collect. */
  private[graft] def topBigrams(df: DataFrame, k: Int): DataFrame =
    df.select(explode(TextExpressions.word_shingles_all(col("text"), 2))
        .as("pat"))
      .groupBy(col("pat")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pat")).limit(k)
      .select(col("pat"))

  /** DuckDB CTE chain training 3 BPE merge rounds over the corpus
    * vocabulary — CTEs `w`, `t1..t3`, `p1..p3` and the per-round winners
    * `b1`/`b2`/`b3` (lt, rt, c). Oracle mirror of [[bpeMerges]]; shared
    * by q90 (dumps the merges) and q91 (applies them to every doc). */
  private[queries] def bpeTrainCteSql(pred: String = "TRUE"): String =
    s"""w AS (
          SELECT word, COUNT(*) AS wf FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
            FROM documents WHERE $pred) GROUP BY word),
        t1 AS (SELECT regexp_replace(word || '_', '(.)', '(\\1)', 'g') AS ts, wf
               FROM w),
        p1 AS (SELECT p.lt, p.rt, SUM(wf) AS c FROM (
                 SELECT unnest(list_transform(
                     generate_series(1, len(l) - 1),
                     i -> struct_pack(lt := l[i], rt := l[i + 1]))) AS p, wf
                 FROM (SELECT string_split(substr(ts, 2, length(ts) - 2),
                         ')(') AS l, wf FROM t1))
               GROUP BY p.lt, p.rt),
        b1 AS (SELECT lt, rt, c FROM p1 ORDER BY c DESC, lt, rt LIMIT 1),
        t2 AS (SELECT replace(ts, '(' || b.lt || ')(' || b.rt || ')',
                        '(' || b.lt || b.rt || ')') AS ts, wf
               FROM t1, b1 b),
        p2 AS (SELECT p.lt, p.rt, SUM(wf) AS c FROM (
                 SELECT unnest(list_transform(
                     generate_series(1, len(l) - 1),
                     i -> struct_pack(lt := l[i], rt := l[i + 1]))) AS p, wf
                 FROM (SELECT string_split(substr(ts, 2, length(ts) - 2),
                         ')(') AS l, wf FROM t2))
               GROUP BY p.lt, p.rt),
        b2 AS (SELECT lt, rt, c FROM p2 ORDER BY c DESC, lt, rt LIMIT 1),
        t3 AS (SELECT replace(ts, '(' || b.lt || ')(' || b.rt || ')',
                        '(' || b.lt || b.rt || ')') AS ts, wf
               FROM t2, b2 b),
        p3 AS (SELECT p.lt, p.rt, SUM(wf) AS c FROM (
                 SELECT unnest(list_transform(
                     generate_series(1, len(l) - 1),
                     i -> struct_pack(lt := l[i], rt := l[i + 1]))) AS p, wf
                 FROM (SELECT string_split(substr(ts, 2, length(ts) - 2),
                         ')(') AS l, wf FROM t3))
               GROUP BY p.lt, p.rt),
        b3 AS (SELECT lt, rt, c FROM p3 ORDER BY c DESC, lt, rt LIMIT 1)"""

  /** The full encode oracle: train merges over documents matching
    * `trainPred`, re-encode every document matching `encodePred` (as
    * `d`), report per-doc token accounting. Oracle mirror of
    * [[bpeEncodeCols]] over [[bpeMergeFrame]]; q91 uses the whole
    * corpus for both halves, q8l trains on the historical slice and
    * encodes the streamed one. */
  private[queries] def bpeEncodeOracle(
      trainPred: String, encodePred: String): String =
    s"""WITH ${bpeEncodeCntCte(trainPred, encodePred)}
        SELECT doc_id, n_words, n_units, n_tokens,
          CASE WHEN n_tokens > 0
               THEN CAST(round(n_units * 1.0 / n_tokens, 4) + 0 AS DOUBLE) END
            AS compression
        FROM cnt ORDER BY doc_id"""

  /** The CTE chain behind [[bpeEncodeOracle]] up to the per-doc token
    * accounting (`cnt`: doc_id, n_words, n_units, n_tokens) — shared so
    * aggregating consumers (qa7's per-slice fertility) reuse the exact
    * same trained-merge encode the per-doc oracle certifies. */
  private[queries] def bpeEncodeCntCte(
      trainPred: String, encodePred: String): String =
    s"""${bpeTrainCteSql(trainPred)},
        enc0 AS (SELECT d.doc_id,
            regexp_extract_all(lower(d.text), '[a-z]+') AS words,
            b1.lt AS m1l, b1.rt AS m1r, b2.lt AS m2l, b2.rt AS m2r,
            b3.lt AS m3l, b3.rt AS m3r
          FROM documents d, b1, b2, b3 WHERE $encodePred),
        enc AS (SELECT doc_id, words,
            list_transform(words, w ->
              replace(replace(replace(
                regexp_replace(w || '_', '(.)', '(\\1)', 'g'),
                '(' || m1l || ')(' || m1r || ')', '(' || m1l || m1r || ')'),
                '(' || m2l || ')(' || m2r || ')', '(' || m2l || m2r || ')'),
                '(' || m3l || ')(' || m3r || ')', '(' || m3l || m3r || ')'))
              AS toks
          FROM enc0),
        cnt AS (SELECT doc_id,
            CAST(len(words) AS BIGINT) AS n_words,
            CAST(COALESCE(list_sum(list_transform(words,
              w -> length(w) + 1)), 0) AS BIGINT) AS n_units,
            CAST(COALESCE(list_sum(list_transform(toks,
              t -> length(t) - length(replace(t, '(', '')))), 0) AS BIGINT)
              AS n_tokens
          FROM enc)"""

  /** The three trained merges pivoted into ONE broadcast-able row
    * (m1l, m1r, m2l, m2r, m3l, m3r) — the frame every encode site
    * cross-broadcasts onto its document scan. */
  private[graft] def bpeMergeFrame(d: DataFrame): DataFrame = {
    val Seq(b1, b2, b3) = bpeMerges(d)
    b1.select(col("lt").as("m1l"), col("rt").as("m1r"))
      .crossJoin(b2.select(col("lt").as("m2l"), col("rt").as("m2r")))
      .crossJoin(b3.select(col("lt").as("m3l"), col("rt").as("m3r")))
  }

  /** Row-local BPE encode over a frame carrying (doc_id, text) AND the
    * [[bpeMergeFrame]] columns: word list → bracketed token string →
    * three literal replaces in merge order → token count by counting
    * '(' groups. Pure column algebra — lifts unchanged into a
    * streaming micro-batch plan (q8l). */
  private[graft] def bpeEncodeCols(
      d: DataFrame, keep: Seq[String] = Nil): DataFrame =
    d.withColumn("words",
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
      .withColumn("toks", expr(
        """transform(words, w ->
             replace(replace(replace(
               regexp_replace(concat(w, '_'), '(.)', '($1)'),
               concat('(', m1l, ')(', m1r, ')'), concat('(', m1l, m1r, ')')),
               concat('(', m2l, ')(', m2r, ')'), concat('(', m2l, m2r, ')')),
               concat('(', m3l, ')(', m3r, ')'), concat('(', m3l, m3r, ')')))"""))
      .select((col("doc_id") +: keep.map(col)) ++ Seq(
        size(col("words")).cast("long").as("n_words"),
        expr("aggregate(words, CAST(0 AS BIGINT), " +
          "(a, w) -> a + length(w) + 1)").as("n_units"),
        expr("aggregate(toks, CAST(0 AS BIGINT), " +
          "(a, t) -> a + length(t) - length(replace(t, '(', '')))")
          .as("n_tokens")): _*)
      .withColumn("compression", when(col("n_tokens") > 0,
        round(col("n_units").cast("double") / col("n_tokens"), 4)))

  /** Three BPE merge-training rounds over a (doc_id, text) frame: the
    * corpus aggregates ONCE into the (word, freq) vocabulary, every
    * round pair-counts over the vocab alone (narrow (pair, Σfreq)
    * shuffle) and the winner flows back as a broadcast 1-row frame — no
    * driver collect. Returns the per-round winning (lt, rt, c) 1-row
    * frames in order. See q90's rationale comment for why the
    * bracketed-token replace is exact greedy BPE on both engines. */
  private[queries] def bpeMerges(d: DataFrame): Seq[DataFrame] = {
    def pairCounts(t: DataFrame): DataFrame = t
      .select(col("wf"),
        split(expr("substring(ts, 2, length(ts) - 2)"), "\\)\\(").as("l"))
      .select(col("wf"), explode(expr(
        "transform(sequence(1, size(l) - 1), " +
          "i -> struct(element_at(l, i) AS lt, element_at(l, i + 1) AS rt))"))
        .as("p"))
      .groupBy(col("p.lt").as("lt"), col("p.rt").as("rt"))
      .agg(sum(col("wf")).as("c"))
    def best(p: DataFrame): DataFrame =
      p.orderBy(col("c").desc, col("lt"), col("rt")).limit(1)
    def applyMerge(t: DataFrame, b: DataFrame): DataFrame = t
      .crossJoin(broadcast(
        b.select(col("lt").as("m_lt"), col("rt").as("m_rt"))))
      .select(expr(
        "replace(ts, '(' || m_lt || ')(' || m_rt || ')', " +
          "'(' || m_lt || m_rt || ')')").as("ts"), col("wf"))
    val t1 = d
      .select(explode(
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .select(
        regexp_replace(concat(col("word"), lit("_")), "(.)", "($1)").as("ts"),
        col("wf"))
    val b1 = best(pairCounts(t1))
    val t2 = applyMerge(t1, b1)
    val b2 = best(pairCounts(t2))
    val t3 = applyMerge(t2, b2)
    val b3 = best(pairCounts(t3))
    Seq(b1, b2, b3)
  }

  /** DuckDB CTE block computing (doc_id, chunk) rows — the oracle mirror
    * of [[cdcChunks]] — for documents matching `pred`, CTE names suffixed
    * `_$sfx` so one statement can chunk two disjoint corpus slices (q5y
    * uses one instance; the q8j streaming oracle uses two). */
  private[queries] def cdcChunksCteSql(sfx: String, pred: String): String =
    s"""ch_$sfx AS (SELECT doc_id, text, length(text) AS n
          FROM documents WHERE $pred),
        pos_$sfx AS (SELECT doc_id, text, n, unnest(range(8, n + 1)) AS i
          FROM ch_$sfx),
        bnd_$sfx AS (SELECT doc_id, i FROM pos_$sfx WHERE
          (CAST(ord(substr(text, CAST(i - 7 AS INT), 1)) AS BIGINT) * 1
           + CAST(ord(substr(text, CAST(i - 6 AS INT), 1)) AS BIGINT) * 31
           + CAST(ord(substr(text, CAST(i - 5 AS INT), 1)) AS BIGINT) * 961
           + CAST(ord(substr(text, CAST(i - 4 AS INT), 1)) AS BIGINT) * 29791
           + CAST(ord(substr(text, CAST(i - 3 AS INT), 1)) AS BIGINT) * 923521
           + CAST(ord(substr(text, CAST(i - 2 AS INT), 1)) AS BIGINT) * 28629151
           + CAST(ord(substr(text, CAST(i - 1 AS INT), 1)) AS BIGINT) * 887503681
           + CAST(ord(substr(text, CAST(i AS INT), 1)) AS BIGINT) * 27512614111)
            % 32 = 0),
        ends_$sfx AS (
          SELECT doc_id, i AS e FROM bnd_$sfx
          UNION ALL
          SELECT c.doc_id, c.n FROM ch_$sfx c
          WHERE NOT EXISTS (SELECT 1 FROM bnd_$sfx b
                            WHERE b.doc_id = c.doc_id AND b.i = c.n)),
        spans_$sfx AS (SELECT doc_id, e,
            COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS p
          FROM ends_$sfx),
        chunks_$sfx AS (SELECT s.doc_id,
            substr(c.text, CAST(s.p + 1 AS INT), CAST(s.e - s.p AS INT)) AS chunk
          FROM spans_$sfx s JOIN ch_$sfx c USING (doc_id))"""

  /** Content-defined chunker shared by q5y and its spec: (doc_id, text) →
    * one (doc_id, chunk) row per chunk, boundaries where the 8-char
    * window hash Σ ascii·31^j ≡ 0 (mod 32). Row-local (one compiled
    * rolling-hash pass per document — [[CdcBoundariesExpr]] — no per-char
    * explode; a non-BMP character raises there instead of silently
    * diverging from the DuckDB oracle's ord() algebra). The earlier
    * declarative form recomputed the full 8-term window sum at every
    * position through interpreted HOF lambdas, which made q5y/q8j the
    * suite's two slowest queries. */
  private[graft] def cdcChunks(df: DataFrame): DataFrame = {
    df
      .withColumn("b", TextExpressions.cdc_boundaries(col("text")))
      .withColumn("ends", expr(
        """CASE WHEN size(b) = 0 THEN array(length(text))
                WHEN element_at(b, -1) <> length(text)
                  THEN concat(b, array(length(text)))
                ELSE b END"""))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ends)), k ->
             substring(text,
               CASE WHEN k = 1 THEN 1 ELSE element_at(ends, k - 1) + 1 END,
               element_at(ends, k)
                 - CASE WHEN k = 1 THEN 0 ELSE element_at(ends, k - 1) END))"""))
        .as("chunk"))
  }
}
