package graft.queries

import graft.streaming.StreamPipelines

/** Oracle-paired entries for the Structured Streaming pipelines
  * (SURVEY.md §2.10). Each runs a REAL incremental streaming execution
  * (file source → watermark → stateful op → memory sink, one-shot
  * AvailableNow trigger); the oracle states the batch-equivalent semantics
  * the stream must converge to after draining its input.
  */
object StreamingQueries {

  /** q8y: the persisted NN-Descent graph the streaming beam serve walks
    * (its own copy — queries must not order-depend on each other's
    * staging). */
  private[queries] def q8yGraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "q8y_knn_graph")

  /** qc8: the persisted BASE graph the streaming insert folds into (the
    * oracle reads it and derives both generations in SQL). */
  private[queries] def qc8GraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qc8_knn_graph")

  /** qd1: the persisted BASE graph the streaming DELETE maintenance
    * folds against (the qc8 layout, delete edition). */
  private[queries] def qd1GraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qd1_knn_graph")

  /** qd4: the persisted BASE graph the full-lifecycle CDC stream
    * (insert → delete sweep → insert) folds against. */
  private[queries] def qd4GraphPath(sfDir: String): String =
    QueryDef.materializePath(sfDir, "qd4_knn_graph")

  def all(sfDir: String): Seq[QueryDef] = Seq(

    // Streaming twin of q41_event_windows: watermarked tumbling windows,
    // append mode (each window emits once on watermark close). Both
    // engines bound the result to windows ending ≥ 1 h below the final
    // watermark (max ts − 1 h delay) — the deterministically-flushed set.
    QueryDef(
      "q80_stream_tumbling",
      Some("""WITH mx AS (SELECT max(ts) AS m FROM events)
        SELECT CAST(EXTRACT(day FROM ts) AS INT) AS d,
        CAST(EXTRACT(hour FROM ts) AS INT) AS h,
        event_type, COUNT(*) AS n,
        ROUND(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS DOUBLE), 2) + 0 AS total_value
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              < (SELECT m - INTERVAL 2 HOUR FROM mx)
        GROUP BY 1, 2, 3 ORDER BY d, h, event_type"""),
      (s, dir) => StreamPipelines.tumblingWindows(s, dir)),

    // Streaming exact dedup on event_id, then per-type distinct counts.
    // CONTRACT (duplicate locality): the stream side uses
    // dropDuplicatesWithinWatermark — seen-key state is evicted once the
    // watermark passes an id's first-occurrence event time, so only
    // duplicates arriving within the 1h watermark delay of their first
    // occurrence are suppressed. The oracle is a GLOBAL distinct; the two
    // agree exactly when every duplicate event_id recurs within 1h of
    // event time of its first occurrence (true of this dataset: event_ids
    // are unique). A corpus with wider-spread duplicates needs either a
    // wider watermark or a batch dedup pass — bounded state is the point
    // of the streaming form, and unbounded-gap dedup is impossible with
    // bounded state.
    QueryDef(
      "q81_stream_dedup",
      Some("""SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => StreamPipelines.streamDedup(s, dir)),

    // Streaming sessionization (session_window, 30-min gap) — same session
    // semantics as the batch lag-based q40_sessionize oracle, append mode
    // (a session emits once when the watermark proves it closed). Both
    // engines keep sessions whose end (last event + 30 min gap) sits
    // ≥ 30 min below the final watermark (max ts − 30 min delay).
    QueryDef(
      "q82_stream_sessionize",
      Some("""WITH g AS (
        SELECT user_id, event_id, ts,
          CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                 OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > INTERVAL 30 MINUTE
               THEN 1 ELSE 0 END AS new_sess
        FROM events),
        sn AS (SELECT user_id, ts,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
               FROM g),
        sess AS (SELECT user_id, sid, COUNT(*) AS n, MAX(ts) AS last_ts
                 FROM sn GROUP BY user_id, sid),
        mx AS (SELECT max(ts) AS m FROM events)
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(n) AS BIGINT) AS n_events
        FROM sess
        WHERE last_ts + INTERVAL 30 MINUTE < (SELECT m - INTERVAL 1 HOUR FROM mx)
        GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => StreamPipelines.sessionWindows(s, dir)),

    // Custom per-key streaming state (flatMapGroupsWithState): the drained
    // final state per user equals the batch aggregate.
    QueryDef(
      "q83_stream_stateful",
      Some("""SELECT user_id, COUNT(*) AS n_events,
        ROUND(MAX(value), 2) + 0 AS max_value
        FROM events GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => StreamPipelines.statefulUserTotals(s, dir)),

    // Stream-static enrichment join (per-micro-batch broadcast dimension).
    QueryDef(
      "q84_stream_static_join",
      Some("""SELECT c_mktsegment, COUNT(*) AS n_events
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      (s, dir) => StreamPipelines.streamStaticJoin(s, dir)),

    // Watermarked stream-stream interval join (state bounded to the
    // 1-hour range) — drained result equals the batch interval join.
    QueryDef(
      "q85_stream_stream_join",
      Some("""SELECT p.event_id AS purchase_id, c.event_id AS click_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        ORDER BY purchase_id, click_id"""),
      (s, dir) => StreamPipelines.streamStreamJoin(s, dir)),

    // Sliding 2h/1h windows: the oracle assigns each event to its two
    // overlapping window starts explicitly. Window starts whose span falls
    // entirely before the first event exist on neither side (no rows).
    // Append mode: both engines keep windows ending ≥ 1 h below the final
    // watermark (max ts − 1 h delay).
    QueryDef(
      "q86_stream_sliding",
      Some("""WITH mx AS (SELECT max(ts) AS m FROM events),
        w AS (
          SELECT event_type,
            unnest([date_trunc('hour', ts),
                    date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS wstart
          FROM events)
        SELECT CAST(EXTRACT(day FROM wstart) AS INT) AS d,
          CAST(EXTRACT(hour FROM wstart) AS INT) AS h,
          event_type, COUNT(*) AS n
        FROM w
        WHERE wstart + INTERVAL 2 HOUR < (SELECT m - INTERVAL 2 HOUR FROM mx)
        GROUP BY 1, 2, 3 ORDER BY d, h, event_type"""),
      (s, dir) => StreamPipelines.slidingWindows(s, dir)),

    // Stream-stream LEFT OUTER interval join: null-padded rows emit only
    // after the watermark proves no match can arrive. The global watermark
    // is min over both branches of (branch max ts − 2 h delay), so both
    // engines bound the purchase side to least(max click ts, max purchase
    // ts) − 3 h (batch post-filter; 2 h delay + 1 h flush margin).
    QueryDef(
      "q88_stream_outer_join",
      Some("""WITH mx AS (SELECT least(
                max(ts) FILTER (WHERE event_type = 'click'),
                max(ts) FILTER (WHERE event_type = 'purchase')) AS m
              FROM events),
        p AS (SELECT user_id AS pu, ts AS pts, event_id AS purchase_id
              FROM events WHERE event_type = 'purchase'
                AND ts < (SELECT m - INTERVAL 3 HOUR FROM mx)),
        c AS (SELECT user_id AS cu, ts AS cts, event_id AS click_id
              FROM events WHERE event_type = 'click')
        SELECT purchase_id, click_id
        FROM p LEFT JOIN c ON pu = cu
          AND cts >= pts - INTERVAL 1 HOUR AND cts <= pts
        ORDER BY purchase_id, click_id NULLS FIRST"""),
      (s, dir) => StreamPipelines.streamStreamOuterJoin(s, dir)),

    // Spark 4 transformWithState (typed ValueState + event-time timers,
    // RocksDB-backed): same per-user totals contract — and the same
    // oracle — as the flatMapGroupsWithState q83, proving the two state
    // APIs agree.
    QueryDef(
      "q89_stream_tws_stateful",
      Some("""SELECT user_id, COUNT(*) AS n_events,
        ROUND(MAX(value), 2) + 0 AS max_value
        FROM events GROUP BY user_id ORDER BY user_id"""),
      (s, dir) => StreamPipelines.statefulUserTotalsTws(s, dir)),

    // graft-doc as a streaming SOURCE: the commit log tailed as CDC, one
    // commit per micro-batch, drained rows rolled up in batch. Events are
    // keyed by event_id (unique), so the version count per type equals
    // the batch count per type.
    QueryDef(
      "q8a_doc_cdc_source",
      Some("""SELECT event_type, COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => StreamPipelines.docCdcSource(s, dir)),

    // CDC source + event-time stack: watermarked tumbling windows over
    // the commit-log stream, one commit per micro-batch (multi-batch
    // watermark progression), append mode, q80's horizon contract.
    QueryDef(
      "q8b_cdc_windowed",
      Some("""WITH mx AS (SELECT max(ts) AS m FROM events)
        SELECT CAST(EXTRACT(day FROM ts) AS INT) AS d,
        CAST(EXTRACT(hour FROM ts) AS INT) AS h,
        event_type, COUNT(*) AS n
        FROM events
        WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR
              < (SELECT m - INTERVAL 2 HOUR FROM mx)
        GROUP BY 1, 2, 3 ORDER BY d, h, event_type"""),
      (s, dir) => StreamPipelines.docCdcWindowed(s, dir)),

    // CDC deletes as first-class events: `withOp = true` stamps every
    // drained row with its change type (insert | delete, decoded from the
    // commit dir name — zero per-row storage). Two insert commits carry
    // every event exactly once; the tombstone commit carries every 10th
    // event_id — so the per-op counts are batch-derivable from events.
    QueryDef(
      "q8c_cdc_ops",
      Some("""SELECT 'delete' AS op, COUNT(*) AS n,
          COUNT(DISTINCT CAST(event_id AS VARCHAR)) AS n_ids
        FROM events WHERE event_id % 10 = 0
        UNION ALL
        SELECT 'insert' AS op, COUNT(*) AS n,
          COUNT(DISTINCT CAST(event_id AS VARCHAR)) AS n_ids
        FROM events
        ORDER BY op"""),
      (s, dir) => StreamPipelines.docCdcOps(s, dir)),

    // Streaming corpus ingestion: CDC tail → stateless quality gate →
    // keyed upsert sink → snapshot. The source history rewrites docs
    // 100–199 with a longer body in a later commit; since the v2 body is
    // strictly longer, the last passing version is v2 exactly when v2
    // passes the gate — so the oracle takes the updated text for 100–199
    // and gates once. Cross-version dedup costs zero stream state (the
    // sink's upsert resolves it).
    QueryDef(
      "q8d_stream_ingest",
      Some("""WITH eff AS (
          SELECT doc_id, lang,
            CASE WHEN doc_id BETWEEN 100 AND 199
                 THEN 'updated ' || text ELSE text END AS t
          FROM documents WHERE doc_id < 500)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(length(t)) AS BIGINT) AS sum_chars
        FROM eff WHERE length(t) >= 100
        GROUP BY lang ORDER BY lang"""),
      (s, dir) => StreamPipelines.docStreamIngest(s, dir)),

    // Continuous incremental dedup: a CDC tail of new documents
    // anti-joined (stream-static, STATELESS) against the historical
    // corpus's content hashes — the streaming twin of batch q6b, whose
    // oracle shape this reuses rolled up by language.
    QueryDef(
      "q8e_stream_incremental_dedup",
      Some("""SELECT lang, COUNT(*) AS n_novel FROM documents d
        WHERE doc_id >= 250
          AND sha256(text) NOT IN (
            SELECT sha256(text) FROM documents WHERE doc_id < 250)
        GROUP BY lang ORDER BY lang"""),
      (s, dir) => StreamPipelines.docStreamIncrementalDedup(s, dir)),

    // Continuous incremental near-dup CLUSTERING: CDC-arriving pair edges
    // folded into persisted (node, component) labels per micro-batch via
    // ConnectedComponents.incremental (foreachBatch; O(|batch|) reduced
    // CC + broadcast relabel, never a corpus re-run). The oracle is
    // from-scratch CC over the WHOLE pair graph — the drained label
    // table must be indistinguishable from a full batch run (q6a/q6k's
    // closure, now reached through a real two-batch streaming execution).
    QueryDef(
      "q8f_stream_cc_incremental",
      Some(s"""WITH RECURSIVE ${DedupQueries.jaccardPairsCte},
          sym AS (SELECT id_a AS a, id_b AS b FROM jp
                  UNION ALL SELECT id_b, id_a FROM jp),
          reach(a, b) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
          SELECT a AS doc_id, min(b) AS component
          FROM reach GROUP BY a ORDER BY doc_id"""),
      (s, dir) => StreamPipelines.docStreamIncrementalClusters(s, dir)),

    // Streaming ANN serve: queries arrive as a CDC stream and each
    // micro-batch is answered from the PERSISTED IVF index (q5i's
    // build/serve split with the serve half online — the shape of a
    // vector-search service consuming its query log). The oracle replays
    // index build + probe + rerank over all 10 queries in one batch —
    // the drained, batch-at-a-time results must be indistinguishable
    // from a single batch serve (same cells, same rerank, q66's rule).
    QueryDef(
      "q8g_stream_ann_serve",
      Some(s"""WITH ${SimilarityQueries.centSql},
        assign0 AS (SELECT e.vec_id, c.cid,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 9) DESC, c.cid) AS rn
              FROM embeddings e, cent c),
        assign AS (SELECT vec_id, cid FROM assign0 WHERE rn = 1),
        q AS (SELECT vec_id AS qid, embedding AS qe
              FROM embeddings WHERE vec_id < 10),
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
              FROM cand c JOIN embeddings e ON e.vec_id = c.nid)
        SELECT qid, nid, CAST(round(c0, 4) + 0 AS DOUBLE) AS cos, CAST(rnk AS INT) AS rnk
        FROM rr WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => StreamPipelines.docStreamAnnServe(s, dir)),

    // Streaming range join: clicks arrive as a CDC stream and every
    // micro-batch joins to the static attribution-window table through
    // RangeJoin's bin key — a STATELESS stream-static equi join (no
    // watermark state; a raw range predicate would nested-loop per
    // batch). The oracle is q1f's one-shot batch range join: the drained,
    // batch-at-a-time matches folded over all batches must be
    // indistinguishable from joining all clicks at once.
    QueryDef(
      "q8h_stream_range_join",
      Some("""WITH iv AS (
          SELECT event_id AS iv_id, epoch_ns(ts) AS lo,
                 epoch_ns(ts) + (1 + event_id % 5) * 3600000000000 AS hi
          FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0),
        pts AS (SELECT epoch_ns(ts) AS p_ts, event_id AS p_id
                FROM events WHERE event_type = 'click')
        SELECT iv.iv_id, count(p.p_id) AS n_clicks,
               CAST(coalesce(sum(p.p_id), 0) AS BIGINT) AS sum_click_ids
        FROM iv LEFT JOIN pts p ON p.p_ts >= iv.lo AND p.p_ts < iv.hi
        GROUP BY iv.iv_id ORDER BY iv_id"""),
      (s, dir) => StreamPipelines.docStreamRangeJoin(s, dir)),

    // Continuous sketch maintenance: the streaming twin of q0e — each
    // micro-batch's per-(day, event_type) HLL sketches fold into a
    // VERSIONED persisted sketch table (generation B+1 from generation B
    // + batch B: replay-idempotent by layout, StreamPipelines.Generations) and the
    // distinct-user estimates serve from the STORED sketches. Exact
    // anchors + deterministic ±5% flags — the q0e/q07 oracle rule
    // (register-max merge is order-independent, so the estimate can't
    // wobble across engines or replays).
    QueryDef(
      "q8i_stream_hll_sketch",
      Some("""SELECT CAST(EXTRACT(day FROM ts) AS INT) AS d, event_type,
          CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
          true AS within_5pct
        FROM events GROUP BY 1, 2 ORDER BY d, event_type"""),
      (s, dir) => StreamPipelines.docStreamHllSketch(s, dir)),

    // Reference-topology parity pipeline: stream → keyed document sink →
    // read back. The `_id` count proves the key hoist is lossless.
    QueryDef(
      "q87_stream_doc_sink",
      Some("""SELECT event_type, COUNT(*) AS n,
          COUNT(DISTINCT event_id) AS n_ids
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, dir) => StreamPipelines.streamToDocSink(s, dir)),

    // Continuous chunk-level dedup — q5y's streaming twin on the q8e
    // template: CDC-arriving documents are chunked row-locally per
    // micro-batch and probed against the historical corpus's chunk-hash
    // set via a STATELESS stream-static join (zero state rows; rollups
    // happen post-drain). The oracle replays both corpus slices' chunking
    // and the membership test in one batch — the drained result must be
    // indistinguishable from batch processing.
    QueryDef(
      "q8j_stream_chunk_dedup",
      Some(s"""WITH ${TextAnalysis.cdcChunksCteSql("i", "doc_id >= 250")},
        ${TextAnalysis.cdcChunksCteSql("h", "doc_id < 250")},
        hist AS (SELECT DISTINCT sha256(chunk) AS h FROM chunks_h),
        inc AS (SELECT doc_id, sha256(chunk) AS h FROM chunks_i),
        per_doc AS (SELECT i.doc_id, count(*) AS n_chunks,
            count(*) FILTER (WHERE i.h IN (SELECT h FROM hist)) AS n_known
          FROM inc i GROUP BY i.doc_id)
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(p.n_chunks) AS BIGINT) AS n_chunks,
          CAST(SUM(p.n_known) AS BIGINT) AS n_known_chunks
        FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
        GROUP BY d.lang ORDER BY d.lang"""),
      (s, dir) => StreamPipelines.docStreamChunkDedup(s, dir)),

    // Continuous blocklist screening — q93's streaming twin on the q8e
    // template: the blocklist (top-20 bigram phrases of the HISTORICAL
    // corpus) is compiled once on the static side and every CDC-arriving
    // document is scanned by the Aho–Corasick automaton inside the
    // micro-batch plan — STATELESS (the pattern frame is a broadcast
    // 1-row static side; zero state rows; per-pattern rollups happen
    // post-drain). The oracle replays the naive per-pattern position
    // scan over the streamed slice — the drained counts must equal batch
    // screening exactly, overlap semantics included.
    QueryDef(
      "q8k_stream_blocklist",
      Some(s"""WITH ${TextAnalysis.topBigramsCteSql(20, "doc_id < 250")},
        pats AS (SELECT pat, length(pat) AS m FROM topbg),
        hit AS (SELECT d.doc_id, p.pat,
            len(list_filter(generate_series(1, length(d.text) - p.m + 1),
                i -> substr(d.text, CAST(i AS INT), CAST(p.m AS INT)) = p.pat))
              AS cnt
          FROM documents d, pats p WHERE d.doc_id >= 250)
        SELECT pat AS pattern,
          CAST(COUNT(*) FILTER (WHERE cnt > 0) AS BIGINT) AS n_docs,
          CAST(SUM(cnt) AS BIGINT) AS total_hits
        FROM hit GROUP BY pattern ORDER BY pattern"""),
      (s, dir) => StreamPipelines.docStreamBlocklist(s, dir)),

    // Continuous BPE tokenization — q91's streaming twin: merges train
    // once on the historical corpus (static side), every CDC-arriving
    // document is encoded row-locally inside the micro-batch plan
    // (stateless broadcast of the 1-row merge frame; zero state rows).
    // The oracle trains on the same historical slice and re-encodes the
    // streamed slice in one batch — drained per-doc token accounting
    // must be indistinguishable from batch encoding.
    QueryDef(
      "q8l_stream_bpe_encode",
      Some(TextAnalysis.bpeEncodeOracle("doc_id < 250", "d.doc_id >= 250")),
      (s, dir) => StreamPipelines.docStreamBpeEncode(s, dir)),

    // Streaming heavy hitters — running token standings in COMPLETE
    // output mode (the one mode no other query exercises): the stateful
    // count table re-emits in full each micro-batch and the final drain
    // must equal batch counting over the whole corpus, top-20 by
    // (count DESC, term ASC). Ingest arrives as two commits → two
    // micro-batches, so a state store that failed to carry batch-1
    // counts into batch 2 cannot match.
    QueryDef(
      "q8m_stream_heavy_hitters",
      Some("""WITH t AS (SELECT
            unnest(regexp_extract_all(lower(text), '[a-z]+')) AS term
          FROM documents)
        SELECT term, CAST(COUNT(*) AS BIGINT) AS n
        FROM t GROUP BY term ORDER BY n DESC, term LIMIT 20"""),
      (s, dir) => StreamPipelines.docStreamHeavyHitters(s, dir)),

    // Continuous robust anomaly flagging — q9i's streaming twin: per-type
    // median/MAD baselines train batch-side on the historical (even-id)
    // slice, CDC-arriving odd-id events score row-locally against the
    // broadcast baseline frame (stateless stream-static join, zero state
    // rows). The oracle trains on the same slice and batch-scores the
    // streamed slice — drained flags must be indistinguishable.
    QueryDef(
      "q8n_stream_anomaly",
      Some("""WITH hist AS (SELECT * FROM events WHERE event_id % 2 = 0),
        med AS (SELECT event_type, round(quantile_cont(value, 0.5), 9) + 0 AS med
                FROM hist GROUP BY event_type),
        mad AS (SELECT h.event_type,
                round(quantile_cont(abs(h.value - m.med), 0.5), 9) + 0 AS mad
                FROM hist h JOIN med m USING (event_type)
                GROUP BY h.event_type)
        SELECT s.event_id, s.event_type,
          round((s.value - m.med) / (CAST(1.4826 AS DOUBLE) * d.mad), 6) + 0 AS z
        FROM events s JOIN med m USING (event_type)
                      JOIN mad d USING (event_type)
        WHERE s.event_id % 2 = 1 AND d.mad > 0
          AND abs(s.value - m.med)
            > CAST(3 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * d.mad
        ORDER BY event_id"""),
      (s, dir) => StreamPipelines.docStreamAnomaly(s, dir)),

    // Continuous perceptual image dedup — q9t's streaming twin (the
    // multimodal ingest gate): historical even-id images hash batch-side
    // through the real PNG codec, CDC-arriving odd-id images decode +
    // dHash inside the micro-batch plan and probe the broadcast band
    // index (stateless stream-static joins, zero state rows). The
    // oracle brute-forces ALL odd×even pairs with no band filter, so it
    // simultaneously proves drain ≡ batch AND that banding lost no
    // recall at hamming ≤ 3.
    QueryDef(
      "q8o_stream_image_dedup",
      Some(s"""WITH g AS (
          SELECT doc_id, 8 + doc_id % 17 AS w, 8 + (doc_id * 3) % 13 AS h
          FROM documents),
        hs AS (SELECT doc_id, ${MultimodalQueries.dhashHalfSql(0)} AS h0,
                 ${MultimodalQueries.dhashHalfSql(32)} AS h1
               FROM g)
        SELECT n.doc_id AS id_new, e.doc_id AS id_hist,
          CAST(bit_count(xor(n.h0, e.h0)) + bit_count(xor(n.h1, e.h1))
            AS BIGINT) AS hamming
        FROM hs n JOIN hs e ON n.doc_id % 2 = 1 AND e.doc_id % 2 = 0
        WHERE bit_count(xor(n.h0, e.h0)) + bit_count(xor(n.h1, e.h1)) <= 3
        ORDER BY id_new, id_hist"""),
      (s, dir) => StreamPipelines.docStreamImageDedup(s, dir)),

    // Continuous DSIR scoring — qa1's streaming twin: the hashed-bigram
    // log-ratio model trains batch-side on the historical corpus (target
    // = 'src0' within it) and folds to ONE broadcast row (512-entry map
    // + unseen-bucket fallback); CDC-arriving documents score row-locally
    // via an aggregate HOF over their bigram buckets — stateless append,
    // zero state rows, no per-token shuffle (the 100 TB serve shape).
    // The oracle trains on the same historical slice in SQL and
    // batch-scores the streamed slice with the same fallback — drained
    // per-doc weights and selection flags must be indistinguishable from
    // batch scoring.
    QueryDef(
      "q8p_stream_dsir",
      Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
               FROM documents WHERE doc_id < 250),
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
        pr AS (SELECT round(ln((tot.rr + 512) * 1.0 / (tot.tt + 512)), 9) + 0
                 AS prior FROM tot),
        stoks AS (SELECT doc_id, string_split(text, ' ') AS t
                  FROM documents WHERE doc_id >= 250 AND len(string_split(text, ' ')) >= 2),
        sbig AS (SELECT doc_id, unnest(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1])) AS g
                 FROM stoks),
        sfe AS (SELECT doc_id,
                 (ascii(substr(g, 1, 1)) * 31
                  + ascii(substr(g, length(g), 1)) * 17
                  + length(g) * 7) % 512 AS f
                FROM sbig),
        w AS (SELECT sfe.doc_id, COUNT(*) AS n_feats,
                SUM(CAST(COALESCE(term.term, pr.prior) AS DECIMAL(30,12))) AS wsum
              FROM sfe LEFT JOIN term ON term.f = sfe.f, pr
              GROUP BY sfe.doc_id)
        SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
          ROUND(CAST(wsum AS DOUBLE), 6) + 0 AS logw,
          CAST(CASE WHEN CAST(wsum AS DOUBLE) > 0 THEN 1 ELSE 0 END AS INT)
            AS selected
        FROM w ORDER BY doc_id"""),
      (s, dir) => StreamPipelines.docStreamDsir(s, dir)),

    // Continuous quality-classifier scoring — qav's streaming twin: the
    // fixed-point linear scorer trains its full GD chain batch-side on
    // the historical slice, folds to one broadcast weight row, and
    // CDC-arriving documents score row-locally (stateless append, zero
    // state rows — the q8p serve shape applied to a TRAINED model).
    // The oracle re-runs the unrolled training on the same slice and
    // batch-scores the streamed slice: drained margins and selection
    // flags must be indistinguishable from batch scoring, which
    // re-certifies training inside a streaming query.
    QueryDef(
      "q8u_stream_quality_score",
      Some(graft.operators.QualityClassifier
        .serveOracleSql("doc_id < 250", "doc_id >= 250")),
      (s, dir) => StreamPipelines.docStreamQualityScore(s, dir)),

    // Continuous Kneser-Ney perplexity filtering — qb1's streaming twin,
    // the CCNet production serve: the smoothed LM and its tercile
    // cutoffs FREEZE at train time (batch-side, historical slice) and
    // fold to one broadcast row of maps; CDC-arriving docs score and
    // classify row-locally (stateless append, zero state rows). The
    // oracle re-trains the full model in SQL, re-derives the frozen
    // cutoffs from the training slice's own ranked scores, and
    // batch-scores the streamed slice — drained scores AND head/middle/
    // tail verdicts must be indistinguishable from batch.
    QueryDef(
      "q8v_stream_kn_perplexity",
      Some(s"""WITH ${TextAnalysis.knTrainCtesSql("doc_id < 250")},
        ${TextAnalysis.knScoreCtesSql("doc_id < 250", "_tr")},
        ${TextAnalysis.knScoreCtesSql("doc_id >= 250", "_sv")},
        rk0 AS (SELECT avg_neg_logp,
                  row_number() OVER (ORDER BY avg_neg_logp, doc_id) AS rn,
                  COUNT(*) OVER () AS n
                FROM sc_tr),
        c1 AS (SELECT avg_neg_logp AS b1 FROM rk0 WHERE rn = (n + 2) // 3),
        c2 AS (SELECT avg_neg_logp AS b2 FROM rk0
               WHERE rn = (2 * n + 2) // 3)
        SELECT doc_id, n_bigrams, avg_neg_logp,
          CASE WHEN avg_neg_logp <= b1 THEN 'head'
               WHEN avg_neg_logp <= b2 THEN 'middle'
               ELSE 'tail' END AS bucket
        FROM sc_sv, c1, c2 ORDER BY doc_id"""),
      (s, dir) => StreamPipelines.docStreamKnPerplexity(s, dir)),

    // Streaming Pareto-frontier screening — qaz's serve half under the
    // frozen-model contract: the skyline computes batch-side over the
    // standing 75% of customers and freezes as one broadcast array;
    // CDC-arriving customers (the 25% slice, two commits) join their
    // static spend aggregate stream-statically and take a row-local
    // dominance verdict; pareto_new flags the arrivals that would
    // extend the frontier (the production refresh trigger). The oracle
    // derives the same frontier by the NOT EXISTS dominance definition
    // and classifies the arriving slice identically — so the hash
    // certifies the frozen-frontier serve against the declarative spec.
    QueryDef(
      "q8w_stream_skyline",
      Some("""WITH sp AS (
          SELECT o_custkey,
            CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) AS spend
          FROM orders GROUP BY o_custkey),
        pts AS (
          SELECT c.c_custkey,
            CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS bal, s.spend
          FROM customer c JOIN sp s ON s.o_custkey = c.c_custkey),
        tr AS (SELECT * FROM pts WHERE c_custkey % 4 <> 0),
        fr AS (SELECT spend, bal FROM tr p
               WHERE NOT EXISTS (
                 SELECT 1 FROM tr q
                 WHERE q.spend >= p.spend AND q.bal >= p.bal
                   AND (q.spend > p.spend OR q.bal > p.bal))),
        sv AS (SELECT * FROM pts WHERE c_custkey % 4 = 0)
        SELECT sv.c_custkey, sv.spend AS spend_cents, sv.bal AS bal_cents,
          CAST(CASE WHEN EXISTS (
            SELECT 1 FROM fr f
            WHERE f.spend >= sv.spend AND f.bal >= sv.bal
              AND (f.spend > sv.spend OR f.bal > sv.bal))
          THEN 1 ELSE 0 END AS INT) AS dominated,
          CAST(CASE WHEN EXISTS (
            SELECT 1 FROM fr f
            WHERE f.spend >= sv.spend AND f.bal >= sv.bal
              AND (f.spend > sv.spend OR f.bal > sv.bal))
          THEN 0 ELSE 1 END AS INT) AS pareto_new
        FROM sv ORDER BY c_custkey"""),
      (s, dir) => StreamPipelines.docStreamSkyline(s, dir)),

    // Streaming near-dup serve — qa5's serve half online: arriving docs
    // screen against the persisted snapshot LSH index through row-local
    // shingling/capping/signing and stateless stream-static probes (see
    // [[graft.streaming.StreamPipelines.docStreamMinhashServe]] for the
    // state analysis). Shares qa5's exact all-pairs oracle: the online
    // serve must be indistinguishable from the batch incremental run.
    QueryDef(
      "q8q_stream_minhash_serve",
      Some(graft.queries.DedupQueries.incMinhashOracleSql()),
      (s, dir) => StreamPipelines.docStreamMinhashServe(s, dir)),

    // Streaming index MAINTENANCE — qa8's generation merge run as the
    // standing process: each CDC micro-batch folds into the persisted
    // MinHash index via foreachBatch, and the post-drain serve through
    // the final generation must match the full-rebuild oracle (the
    // chain-associativity property reached through a real streaming
    // execution). See StreamPipelines.docStreamIndexMaintenance.
    QueryDef(
      "q8r_stream_index_maintenance",
      Some(graft.queries.DedupQueries.incMinhashOracleSql(375L)),
      (s, dir) => StreamPipelines.docStreamIndexMaintenance(s, dir)),

    // Streaming windowed quantile monitoring — the latency-SLO metric
    // run where it runs in production, inside the watermarked window
    // state: GK-sketch quantiles per 6h window/type (the only quantile
    // a stream can hold — exact would buffer every value), verified
    // post-drain against the corpus with rank-band flags and exact
    // anchors (the q0c error-band oracle applied to §2.10). `n` comes
    // from the STREAM, the verify counts from batch — a watermark or
    // window-assignment bug desynchronizes them and fails the compare.
    QueryDef(
      "qai_stream_quantile",
      Some("""WITH mx AS (SELECT max(ts) AS m FROM events),
        b AS (SELECT event_type, value,
                epoch_ns(ts) // 1000000000
                  - (epoch_ns(ts) // 1000000000) % 21600 AS ws_s
              FROM events),
        f AS (SELECT b.* FROM b, mx
              WHERE make_timestamp((ws_s + 21600) * 1000000)
                < m - INTERVAL 2 HOUR),
        g AS (SELECT ws_s, event_type, COUNT(*) AS n,
                quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.5)
                  / 100.0 AS p50_exact,
                quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.95)
                  / 100.0 AS p95_exact
              FROM f GROUP BY 1, 2)
        SELECT CAST(EXTRACT(day FROM make_timestamp(ws_s * 1000000))
            AS INT) AS d,
          CAST(EXTRACT(hour FROM make_timestamp(ws_s * 1000000))
            AS INT) AS h,
          event_type, n, p50_exact, p95_exact,
          true AS p50_in_band, true AS p95_in_band
        FROM g ORDER BY d, h, event_type"""),
      (s, dir) => StreamPipelines.streamWindowQuantile(s, dir)),

    // S1 executed on the wire (SURVEY §2.1): documents produced onto an
    // in-process Kafka-0.9 broker over TCP by distributed producers, read
    // back through the graft-kafka micro-batch source + F2 text decode,
    // then measured per doc. The oracle reads the parquet directly — a
    // hash match proves byte-exact produce→log→fetch→decode round-trip
    // for every record on every partition.
    QueryDef(
      "q8s_kafka_wire_ingest",
      Some("""SELECT doc_id,
          LENGTH(text) AS n_chars,
          LEN(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE doc_id < 400 ORDER BY doc_id"""),
      (s, dir) => StreamPipelines.kafkaWireIngest(s, dir)),

    // The reference's identity topology end to end: wire stream → csv
    // decode → streaming DOCUMENT-SINK upsert → snapshot. Two
    // produce/drain waves on one checkpoint (stale rows then fresh), so
    // the hash proves offset-resume AND commit-2-beats-commit-1 upsert
    // for every key: one surviving 'PENDING' row is a new group and a
    // different hash.
    // Streaming suffix-structure maintenance — qau's prefix-doubling
    // rank table maintained under continuous ingest: arriving documents
    // contribute row-local (pos, 16-char-key) rows; each micro-batch
    // renumbers only the key DICTIONARY (distinct 16-grams), never the
    // old positions. The oracle replays qau's doubling rounds (SHARED
    // round CTEs) over the full corpus — the hash certifies the
    // equivalence rank_4 ≡ dense-rank-of-16-char-prefix AND that the
    // generation chain converged to the rebuilt structure. See
    // [[graft.streaming.StreamPipelines.docStreamSuffixMerge]].
    QueryDef(
      "q8x_stream_suffix_merge",
      Some(graft.operators.SuffixRanks.mergeOracleSql),
      (s, dir) => StreamPipelines.docStreamSuffixMerge(s, dir)),

    // Streaming graph-ANN serve — the q8g IVF-serve pattern applied to
    // the graph index family: the NN-Descent graph persists once,
    // CDC-arriving queries are answered per micro-batch by the width-4
    // beam walk over stored edges (N-independent per query, stateless,
    // zero state rows — the graph is a parquet read, no per-trigger
    // retrain). The oracle is qat's replay CTE chain, FINAL hop only:
    // the drained batch-at-a-time serves must be indistinguishable
    // from the batch beam walk's endpoint. Design:
    // [[graft.streaming.StreamPipelines.docStreamGraphServe]] /
    // [[graft.operators.NnDescent.beamServeFor]].
    QueryDef(
      "q8y_stream_graph_serve",
      Some(graft.operators.NnDescent.beamFinalOracleSql(
        q8yGraphPath(sfDir))),
      (s, dir) => StreamPipelines.docStreamGraphServe(s, dir,
        q8yGraphPath(dir))),

    // Streaming PQ-ADC serve — the persisted-index streaming serve
    // reaches its fourth and last index family (IVF q8g, MinHash q8q,
    // graph q8y, PQ here): codebook + 8-byte codes persist once,
    // CDC-arriving queries are answered per micro-batch by lookup-table
    // scoring over the stored codes (raw vectors never read at serve
    // time — the PQ contract). Stateless, zero state rows. The oracle
    // is q5s's SHARED replay verbatim: the drained batch-at-a-time
    // serves must be indistinguishable from the one-shot batch ADC.
    // Design: [[graft.streaming.StreamPipelines.docStreamPqServe]].
    QueryDef(
      "q8z_stream_pq_serve",
      Some(graft.queries.SimilarityQueries.pqAdcOracleSql),
      (s, dir) => StreamPipelines.docStreamPqServe(s, dir)),

    // Streaming counting-Bloom dedup under CDC RETRACTIONS — qb9's
    // filter maintained as versioned state across a live feed (insert
    // commit → delete sweep → incoming commit, one micro-batch each):
    // counters fold per batch as order-independent (cell, ±1) sums,
    // deletes decrement through the narrow (doc_id, h) live map (a
    // delete CDC row carries no text), and each batch's inserts screen
    // against the PRE-batch state — so a doc whose only snapshot
    // partner died mid-stream comes out NOVEL. Shares qb9's oracle
    // verbatim: the drained gate ≡ the one-shot batch gate. Design:
    // [[graft.streaming.StreamPipelines.docStreamRetractionDedup]].
    QueryDef(
      "qc0_stream_retraction_dedup",
      Some(graft.queries.DedupQueries.countingBloomOracleSql),
      (s, dir) => StreamPipelines.docStreamRetractionDedup(s, dir)),

    // Continuous unigram-LM tokenization — qap's streaming twin,
    // giving the SECOND tokenizer family its encode-on-ingest story
    // (BPE has q8l): the two EM rounds train once on the historical
    // corpus, the final segmentation folds to one broadcastable
    // word→piece-count map row, and every CDC-arriving document
    // encodes row-locally (two HOFs, zero state rows, stateless
    // append). The oracle trains on the same historical slice and
    // batch-encodes the streamed slice through the FULL training CTE
    // chain — drained per-doc accounting must be indistinguishable
    // from batch encoding, and the encode re-certifies the training
    // it consumes (qap's discipline, stream edition).
    QueryDef(
      "qc3_stream_unigram_encode",
      Some(graft.operators.UnigramLm.encodeOracleSqlFor(
        "doc_id < 250", "doc_id >= 250")),
      (s, dir) => StreamPipelines.docStreamUnigramEncode(s, dir)),

    // Continuous WordPiece tokenization — qas's streaming twin,
    // completing the tokenizer TRIAD's streaming story (BPE q8l,
    // unigram qc3, WordPiece here): MaxMatch runs once per vocabulary
    // word at training time, the per-word accounting folds to one
    // broadcastable word→(units, tokens) map row, and arriving
    // documents encode by pure row-local map lookup — stateless
    // append, zero state rows. Oracle = qas's full train+encode replay
    // parameterized by the historical/streamed split.
    QueryDef(
      "qc4_stream_wordpiece_encode",
      Some(graft.operators.WordPiece.encodeOracleSqlFor(
        "doc_id < 250", "doc_id >= 250")),
      (s, dir) => StreamPipelines.docStreamWordPieceEncode(s, dir)),

    // Streaming suffix-structure deletes — the qc0 retraction pattern
    // applied to the q8x index: a three-commit CDC drain (snapshot
    // insert → compliance delete sweep → incoming insert) folds into
    // versioned structure state per micro-batch; deletes debit the
    // per-key counts from the tombstoned docs' OWN stored position
    // rows (qb8's count-debit — a delete CDC row carries no text),
    // vanished keys shift every dense rank above them, and the
    // dictionary renumber stays O(dict). Oracle = qau's doubling
    // rounds over the LIVE corpus (qb8's oracle, shared CTE chain):
    // the drained fold must be bit-identical to rebuilding the
    // structure as if the swept docs had never existed. Design:
    // [[graft.streaming.StreamPipelines.docStreamSuffixRetraction]].
    QueryDef(
      "qc5_stream_suffix_retraction",
      // live = never swept, OR swept-and-revived (%20==15 re-inserts in
      // the third commit — the latest-op-per-doc resolution the fold's
      // generation stamps exist for; the %20==5 half stays dead)
      Some(graft.operators.SuffixRanks.compactionOracleSql(
        "NOT (doc_id < 250 AND doc_id % 10 = 5 AND doc_id % 20 <> 15)")),
      (s, dir) => StreamPipelines.docStreamSuffixRetraction(s, dir)),

    // Streaming IVF index maintenance — q5m's update verb on the ingest
    // stream (the q8r/q8x maintenance pattern, IVF edition; the family's
    // streaming story was serve-only, q8g): new vectors arrive as CDC
    // commits, each micro-batch assigns only its own rows against the
    // persisted centroids (one broadcast join, O(|batch|·k), standing
    // memberships untouched) and appends a batch-keyed membership
    // generation; the q66 probe then serves over base ∪ generations.
    // Shares q5m's oracle verbatim (path-parameterized, the qb9/qc0
    // discipline): the oracle re-derives the delta assignment from the
    // raw table, so drained per-batch maintenance ≡ the one-shot batch
    // update. Design: [[graft.streaming.StreamPipelines.docStreamIvfUpdate]].
    QueryDef(
      "qc6_stream_ivf_update",
      Some(graft.queries.SimilarityQueries.ivfUpdateOracleSql(
        graft.queries.SimilarityQueries.qc6IndexPath(sfDir))),
      (s, dir) => StreamPipelines.docStreamIvfUpdate(s, dir,
        graft.queries.SimilarityQueries.qc6IndexPath(dir))),

    // Streaming PQ index maintenance — the qc6 verb, PQ edition: new
    // vectors arrive as CDC commits, each micro-batch argmin-encodes
    // only its own rows against the persisted codebook (one broadcast
    // join, 8 bytes appended per vector, batch-keyed generations), and
    // q5s's ADC probe serves over base ∪ generations. Shares q5s's
    // oracle VERBATIM — the third consumer of that exact text (q5s
    // batch, q8z streamed serve, streamed maintenance here): one
    // oracle IS the machine-checked equivalence ladder. Design:
    // [[graft.streaming.StreamPipelines.docStreamPqUpdate]].
    QueryDef(
      "qc7_stream_pq_update",
      Some(graft.queries.SimilarityQueries.pqAdcOracleSql),
      (s, dir) => StreamPipelines.docStreamPqUpdate(s, dir)),

    // Streaming graph-ANN index maintenance — the LAST index family to
    // get the verb (IVF qc6, PQ qc7, MinHash q8r, suffix q8x): each
    // micro-batch folds insertDeltaOf against the previous generation's
    // graph (seed beams + back-edge re-top-K + one local refinement
    // round, N-independent per inserted node), writing batch-keyed
    // full-graph generations. Sequential insert folds are NOT
    // union-equivalent, so the oracle unrolls BOTH generations in SQL —
    // gen 2 replays against gen 1's SQL-DERIVED output graph, never the
    // pipeline's persisted intermediate. Output: sampled new nodes'
    // served top-K from the FINAL graph with exact flags (qb3's shape).
    // Design: [[graft.streaming.StreamPipelines.docStreamGraphInsert]].
    QueryDef(
      "qc8_stream_graph_insert",
      Some(graft.operators.NnDescent.streamInsertOracleSql(
        qc8GraphPath(sfDir))),
      (s, dir) => StreamPipelines.docStreamGraphInsert(s, dir,
        qc8GraphPath(dir))),

    // Streaming IVF index maintenance under DELETES — the inverse verb
    // of qc6, closing the round-14 symmetry gap (streamed maintenance
    // folded inserts only; a right-to-be-forgotten delete arriving ON
    // the stream had only batch answers): the CDC tail delivers
    // insert / delete-sweep / insert, every micro-batch folds BOTH
    // verbs (inserts assign against the persisted centroids, deletes
    // append to versioned tombstone generations — O(|batch|) rows,
    // memberships untouched), and the serve anti-joins the final
    // tombstone set at query time. The sweep hits base ids AND the
    // first commit's already-streamed delta ids, so the retraction
    // covers both offline-persisted and stream-appended memberships.
    // Oracle = q5m's replay parameterized by the live predicate (q5m,
    // qc6, qc9 share one spec text modulo the staged predicates).
    // Design: [[graft.streaming.StreamPipelines.docStreamIvfRetraction]].
    QueryDef(
      "qc9_stream_ivf_retraction",
      Some(graft.queries.SimilarityQueries.ivfUpdateOracleSqlFor(
        graft.queries.SimilarityQueries.qc9IndexPath(sfDir),
        graft.queries.SimilarityQueries.streamLivePred("vec_id"),
        graft.queries.SimilarityQueries.streamLivePred("vec_id"))),
      (s, dir) => StreamPipelines.docStreamIvfRetraction(s, dir,
        graft.queries.SimilarityQueries.qc9IndexPath(dir))),

    // Streaming PQ index maintenance under DELETES — qc9's verb, PQ
    // edition: per batch, inserts argmin-encode against the persisted
    // codebook (8 bytes appended per vector), deletes append to
    // versioned tombstone generations; the ADC serve anti-joins the
    // final set out of base ∪ streamed codes (8-byte rows, raw vectors
    // never read). Oracle = q5s's replay with the live predicate on
    // candidates and queries — the SIXTH consumer of the pqAdc spec
    // text: one oracle is the machine-checked equivalence ladder
    // batch ≡ streamed-serve ≡ streamed-insert ≡ streamed-delete.
    // Design: [[graft.streaming.StreamPipelines.docStreamPqRetraction]].
    QueryDef(
      "qd0_stream_pq_retraction",
      Some(graft.queries.SimilarityQueries.pqAdcOracleSqlFor("embeddings",
        graft.queries.SimilarityQueries.streamLivePred("c.vec_id"),
        graft.queries.SimilarityQueries.streamLivePred("q.vec_id"))),
      (s, dir) => StreamPipelines.docStreamPqRetraction(s, dir)),

    // Streaming graph-ANN maintenance under DELETES — the hard case
    // (qc9/qd0 retract by anti join; a graph delete leaves HOLES in
    // surviving lists): qb4's tombstone rule arrives as TWO CDC delete
    // sweeps (%32==3 then %32==19) and every micro-batch folds the
    // FreshDiskANN delete-with-local-repair against the previous
    // generation's graph, writing batch-keyed full-graph generations.
    // Sequential repairs are NOT one-shot-equivalent (gen 1 may patch a
    // hole with a node gen 2 then deletes and re-repairs), so the
    // oracle unrolls BOTH generations in SQL — gen 2 replays against
    // gen 1's SQL-DERIVED output graph, never the pipeline's persisted
    // intermediate. Output: sampled touched SURVIVORS' top-K from the
    // FINAL graph with exact flags over the surviving corpus (qb4's
    // shape; touched-then-deleted nodes get no serve). Design:
    // [[graft.streaming.StreamPipelines.docStreamGraphRetraction]] /
    // [[graft.operators.NnDescent.deleteRepairOf]].
    QueryDef(
      "qd1_stream_graph_retraction",
      Some(graft.operators.NnDescent.streamDeleteOracleSql(
        qd1GraphPath(sfDir))),
      (s, dir) => StreamPipelines.docStreamGraphRetraction(s, dir,
        qd1GraphPath(dir))),

    // The FULL CDC lifecycle for the graph index on ONE stream — the
    // capstone the verb symmetry points at (qc8 = inserts only, qd1 =
    // deletes only; IVF/PQ interleave both in qc9/qd0, but their
    // retractions are anti joins — the graph's verbs are a structural
    // merge AND a structural repair): insert (even delta) → compliance
    // delete sweep (%16==3 base ids) → insert (odd delta), each batch
    // folding its verb against the previous generation's graph, with
    // gen-3 probes TOMBSTONE-AWARE (a probed dead id must not re-enter
    // fresh lists — the one candidate source stored edges don't
    // launder). Oracle = THREE generations unrolled in SQL, each
    // replaying against the previous generation's SQL-DERIVED output
    // graph; sampled (delta ∪ repair-touched) nodes' top-K from the
    // FINAL graph with exact flags over the LIVE corpus. Design:
    // [[graft.streaming.StreamPipelines.docStreamGraphLifecycle]] /
    // [[graft.operators.NnDescent.lifecycleOracleSql]].
    QueryDef(
      "qd4_stream_graph_lifecycle",
      Some(graft.operators.NnDescent.lifecycleOracleSql(
        qd4GraphPath(sfDir))),
      (s, dir) => StreamPipelines.docStreamGraphLifecycle(s, dir,
        qd4GraphPath(dir))),

    // Streaming MinHash maintenance under DELETES — the LAST delete-verb
    // hole (IVF qc9, PQ qd0, graph qd1, suffix qc5 fold CDC deletes per
    // micro-batch; MinHash had batch qaa/qb7 only): four CDC commits
    // alternate insert and compliance-sweep verbs, inserts fold via
    // qa8's merge, deletes via qb7's count-debit compaction (corpus
    // never read — sets ∪ dropped reconstructs dead docs' shingle sets,
    // DF debited, un-hotted shingles re-admitted, resurrection
    // included), each batch a new index generation. The serve through
    // the FINAL generation shares qb7's rebuild-over-live oracle (DF
    // cap RE-COUNTED over live docs): hash equality proves the
    // merge/compact ALTERNATION converged to exactly the from-scratch
    // index over live docs — the frame-for-frame claim
    // `MinhashCompactionPropSpec`'s streamed-chain row pins. Design:
    // [[graft.streaming.StreamPipelines.docStreamMinhashRetraction]].
    QueryDef(
      "qd5_stream_minhash_retraction",
      Some(graft.queries.DedupQueries.incMinhashOracleSql(
        375L, "a.doc_id % 5 <> 0", "doc_id % 5 <> 0")),
      (s, dir) => StreamPipelines.docStreamMinhashRetraction(s, dir)),

    QueryDef(
      "q8t_kafka_wire_doc_sink",
      Some("""SELECT c_mktsegment AS seg, COUNT(*) AS n,
          CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS cents
        FROM customer WHERE c_custkey < 1000
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => StreamPipelines.kafkaWireToDocSink(s, dir))
  )
}
