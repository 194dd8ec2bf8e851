package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.queries.QueryKit._
import graft.streaming.Streams

/** Structured Streaming: windowed aggregation, stateful operators,
  * stream joins, ingest dedup and stored-index probes per micro-batch. */
object StreamQueries extends QueryFamily {

  // ---- Structured Streaming: tumbling window over readStream(events) ----
  Q("q49_stream_tumbling", oracle =
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS k, event_type,
        |count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Streams.tumblingByType(s, dir, "1 hour")
  }

  // ---- streaming capstone: INGESTION dedup — ordered micro-batches
  //      anti-joined against the accumulating fingerprint sink
  //      (exactly-once batchId overwrite); late-arriving duplicate
  //      copies all drop; result == the batch dedup of the whole union ----
  Q("q173_stream_ingest", oracle =
      """WITH inc AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT min(doc_id) AS keep_id,
        |  md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM inc GROUP BY 2""".stripMargin) { (s, dir) =>
      Streams.ingestDedupDocs(s, dir)
  }

  // ---- Structured Streaming: sliding windows over readStream(events) ----
  Q("q77_stream_sliding", oracle =
      """WITH x AS (
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS k, value FROM events
        |UNION ALL
        |SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 3600, value FROM events)
        |SELECT k, count(*) AS n, round(sum(value),4) AS total FROM x GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.slidingCounts(s, dir, "2 hours", "1 hour")
  }

  // ---- Structured Streaming: custom state via mapGroupsWithState ----
  Q("q78_stream_stateful", oracle =
      """SELECT user_id, count(*) AS n_events, round(sum(value),4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.statefulUserTotals(s, dir)
  }

  // ---- streaming: stream-STATIC dimension join — per-micro-batch
  //      re-planned static side, no watermark state (the ingest
  //      enrichment shape); totals by each user's home event type ----
  Q("q151_stream_static_join", oracle =
      // append-mode finalization rule: a window lands in the file sink iff
      // the final watermark (max event time - delay) passed its end
      """WITH home AS (SELECT user_id, min(event_type) || '_' || (user_id % 5) AS home_type
        |              FROM events GROUP BY 1)
        |SELECT home_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM events JOIN home USING (user_id)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.enrichedTypeTotals(s, dir)
  }

  // ---- streaming: gap-based SESSION windows (append mode, watermark-
  //      finalized) vs a batch gaps-and-islands oracle — completes the
  //      window family (tumbling/sliding/session); micro timestamps
  //      keep session boundaries integer-exact cross-engine ----
  Q("q143_stream_sessions", oracle =
      // shared by q143 (default in-memory state) and q258 (the same stream
      // with session-window state in RocksDB) — provider choice must never
      // change a row
      streamSessionsOracleSql) { (s, dir) =>
      Streams.sessionCounts(s, dir, "12 hours")
  }

  // ---- streaming: foreachBatch sink with the idempotent batchId-keyed
  //      overwrite (the exactly-once recipe for JDBC/MERGE-style targets
  //      Structured Streaming has no native sink for); latest batch per
  //      key == the batch aggregate ----
  Q("q133_stream_foreach_batch", oracle =
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      Streams.foreachBatchTypeTotals(s, dir)
  }

  // ---- streaming: NEAR-DUP dedup of the stream against itself —
  //      greedy first-wins over LSH band-bucket cells with mark-all
  //      claims; documents plus perturbed re-arrivals in 3 ordered
  //      micro-batches, survivors = global first toucher of every cell.
  //      The oracle replays the banding (q113's construction) and one
  //      rank-per-cell pass — stream/batch equivalence is the check ----
  Q("q307_stream_neardup", oracle =
      """WITH inc AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' dup0' FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM inc),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |r AS (SELECT doc_id, row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rn
        |      FROM bk),
        |bad AS (SELECT DISTINCT doc_id FROM r WHERE rn > 1)
        |SELECT i.doc_id AS keep_id,
        |CAST(CASE WHEN i.doc_id < 250 THEN 0 WHEN i.doc_id < 10000 THEN 1 ELSE 2 END
        |  AS BIGINT) AS batch
        |FROM inc i LEFT JOIN bad b USING (doc_id) WHERE b.doc_id IS NULL""".stripMargin) { (s, dir) =>
      Streams.ingestNearDupDocs(s, dir)
  }

  // ---- the KEYED-STATE form of q307: same greedy first-wins near-dup
  //      self-dedup, but the claimed-cells state lives in RocksDB
  //      flatMapGroupsWithState instead of a parquet claim store the
  //      whole of which every batch re-reads — per-batch cost tracks
  //      batch size, flat in batch index (drill: stream_neardup_keyed);
  //      oracle SHARED with q307 (identical semantics by construction) ----
  Q("q308_stream_neardup_keyed", oracle =
      // shared with q307: the keyed-state implementation must answer the
      // same global first-id-wins-per-cell replay exactly
      """WITH inc AS (SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text || ' dup0' FROM documents WHERE doc_id % 5 = 0),
        |w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM inc),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |r AS (SELECT doc_id, row_number() OVER (PARTITION BY band, bk ORDER BY doc_id) AS rn
        |      FROM bk),
        |bad AS (SELECT DISTINCT doc_id FROM r WHERE rn > 1)
        |SELECT i.doc_id AS keep_id,
        |CAST(CASE WHEN i.doc_id < 250 THEN 0 WHEN i.doc_id < 10000 THEN 1 ELSE 2 END
        |  AS BIGINT) AS batch
        |FROM inc i LEFT JOIN bad b USING (doc_id) WHERE b.doc_id IS NULL""".stripMargin) { (s, dir) =>
      Streams.ingestNearDupDocsKeyed(s, dir)
  }

  // ---- streaming ANN at ingest, the PQ leg: quantize each arriving
  //      query micro-batch, ADC-probe the PUBLISHED codes-only IVF+PQ
  //      index per batch — per-query determinism makes union-over-
  //      batches == the one-shot probe == q310's oracle (shared with
  //      q111); completes the LSH(q252)/IVF(q265)/PQ streaming-probe
  //      matrix ----
  Q("q313_stream_pq_probe", oracle =
      // q313 = q310's probe per micro-batch; union over batches == one-shot
      ivfPqOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ensurePqIndex(e, "vec_id", "embedding", pqIndexTable(dir),
        nlist = 8, m = 8, codes = 16, rounds = 2, corpusFp = ivfCorpusFp(dir))
      Streams.streamPqIndexProbe(s,
        e.select(col("vec_id"), col("embedding")).where(col("vec_id") < 5),
        pqIndexTable(dir), k = 3,
        batchPreds = Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0),
        corpusFp = ivfCorpusFp(dir))
  }

  // ---- ingest-time ANN composition: STREAMING query batches probe the
  //      PUBLISHED IVF index per micro-batch — per-query determinism
  //      makes union-over-batches == the one-shot probe == q263's oracle ----
  Q("q265_stream_ivf_probe", oracle = ivfSampledOracleSql) { (s, dir) =>
      val tbl = ivfIndexTable(dir)
      Similarity.ensureIvfIndex(t(s, dir, "embeddings"), "vec_id", "embedding", tbl,
        trainRows = 128, corpusFp = ivfCorpusFp(dir))
      // the query subset and 2-batch parity split are THIS query's fixture
      // (passed in — the streaming layer owns only the plumbing)
      Streams.streamIvfIndexProbe(s,
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
          .where(col("vec_id") < 5),
        tbl, k = 3,
        batchPreds = Seq(col("vec_id") % 2 === 0, col("vec_id") % 2 =!= 0),
        corpusFp = ivfCorpusFp(dir))
  }

  // ---- streaming: parquet FILE sink, append mode — a window row lands
  //      in the files only once the watermark passed its end (the
  //      exactly-once production output path; the batch oracle filters
  //      to the same finalization rule) ----
  Q("q122_stream_file_sink", oracle =
      """WITH m AS (SELECT max(ts) AS mx FROM events),
        |agg AS (SELECT date_trunc('hour', ts) AS w, event_type,
        |        count(*) AS n, round(sum(value), 4) AS total
        |        FROM events GROUP BY 1, 2)
        |SELECT CAST(epoch(w) AS BIGINT) AS k, event_type, n, total
        |FROM agg, m WHERE w + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR""".stripMargin) { (s, dir) =>
      Streams.tumblingFileSink(s, dir, "1 hour")
  }

  // ---- streaming: stream-stream time-range self-join (state on both
  //      sides, watermark-expired) vs the batch self-join oracle ----
  Q("q108_stream_join", oracle =
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(epoch_ns(ts) // 1000 AS BIGINT) AS us
        |  FROM events WHERE user_id < 20)
        |SELECT a.user_id, count(*) AS n_pairs
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |  AND b.us > a.us AND b.us <= a.us + 3600000000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.withinHourPairCounts(s, dir, maxUserId = 20)
  }

  // ---- pipeline: streaming-ingest dedup (dropDuplicates at the
  //      firehose — the streaming twin of q36's exact dedup) ----
  Q("q98_stream_dedup", oracle =
      """SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
        |FROM (SELECT DISTINCT user_id, event_type, value FROM events)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.dedupedTypeTotals(s, dir)
  }

  // ---- streaming: the q196 funnel as a PER-ENTITY STATE MACHINE —
  //      mapGroupsWithState with O(1) (stage, last-µs) state (vs the
  //      batch form's per-step lists); greedy ascending scan ≡
  //      chained-min, so the same k-join oracle certifies the stream ----
  Q("q203_stream_funnel", oracle =
      """WITH e AS (SELECT * FROM events
        |  WHERE ts < (SELECT min(ts) FROM events) + INTERVAL 72 HOURS),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM s1) AS c1,
        |  (SELECT count(*) FROM s2) AS c2, (SELECT count(*) FROM s3) AS c3)
        |SELECT 1 AS step, 'view' AS step_name, c1 AS entities,
        |  c1 * 1000000 // c1 AS conv_ppm FROM c
        |UNION ALL SELECT 2, 'click', c2, c2 * 1000000 // c1 FROM c
        |UNION ALL SELECT 3, 'purchase', c3, c3 * 1000000 // c1 FROM c""".stripMargin) { (s, dir) =>
      Streams.funnelStages(s, dir, Seq("view", "click", "purchase"),
        horizonSec = 259200L)
  }

  // ---- streaming: stream-stream LEFT OUTER time-range join — null
  //      rows emit only when the watermark PROVES no match is coming
  //      (no-data batch finalization); purchases newer than the final
  //      watermark stay open and never emit, and the batch oracle
  //      applies the same cutoff (q122 convention) ----
  Q("q228_stream_left_outer", oracle =
      // watermark cutoff: unmatched purchases emit only once the final
      // watermark (ms-truncated min-of-inputs max ts − 1 h) passes them
      """WITH p AS (SELECT user_id AS u, event_id AS eid, ts FROM events
        |  WHERE event_type = 'purchase'),
        |v AS (SELECT user_id AS u, event_id AS eid, ts FROM events
        |  WHERE event_type = 'view'),
        |cut AS (SELECT to_timestamp(least(
        |    (SELECT floor(epoch_ms(max(ts)) / 1000.0) FROM p),
        |    (SELECT floor(epoch_ms(max(ts)) / 1000.0) FROM v)) - 3600)
        |  AS c),
        |m AS (SELECT p.u, p.eid, CAST(count(*) AS BIGINT) AS nm
        |  FROM p JOIN v ON p.u = v.u
        |    AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |  GROUP BY 1, 2),
        |rows_ AS (
        |  SELECT p.u, coalesce(m.nm, 0) AS nm,
        |    CASE WHEN m.eid IS NULL AND p.ts < (SELECT c FROM cut)
        |      THEN 1 ELSE 0 END AS unm
        |  FROM p LEFT JOIN m ON p.u = m.u AND p.eid = m.eid
        |  WHERE m.eid IS NOT NULL OR p.ts < (SELECT c FROM cut))
        |SELECT u AS user_id, CAST(sum(nm) AS BIGINT) AS n_matched,
        |  CAST(sum(unm) AS BIGINT) AS n_unmatched
        |FROM rows_ GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.leftOuterMatchCensus(s, dir)
  }

  // ---- streaming: at-least-once ingest dedup with BOUNDED state —
  //      dropDuplicatesWithinWatermark over a redelivered source (two
  //      links to the same file); duplicates share the event time so
  //      they always land inside the delay; oracle = plain totals ----
  Q("q233_stream_alo_dedup", oracle =
      // the stream deduplicates the redelivered copies → plain totals
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_cents
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.atLeastOnceDedupTotals(s, dir)
  }

  // ---- streaming at 100 TB state, aggregation flavor: q49's tumbling
  //      windowed agg with streaming-AGGREGATION state in RocksDB — the
  //      third state-manager family after q249 (mapGroups) and q258
  //      (session windows); same rows by construction ----
  Q("q259_stream_tumbling_rocksdb", oracle =
      // q259 = q49's stream under the RocksDB provider — same rows
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS k, event_type,
        |count(*) AS n, round(sum(value), 4) AS total
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      Streams.tumblingByTypeRocksDb(s, dir, "1 hour")
  }

  // ---- streaming at 100 TB state, session flavor: q143's gap
  //      sessionization with SESSION-WINDOW state in RocksDB — a
  //      different store code path (merge/split of windows per key) than
  //      q249's mapGroupsWithState, same rows by construction ----
  Q("q258_stream_sessions_rocksdb", oracle = streamSessionsOracleSql) { (s, dir) =>
      Streams.sessionCountsRocksDb(s, dir, "12 hours")
  }

  // ---- the full ingest-time dedup composition: STREAMING batches probe
  //      the PUBLISHED bucketed LSH index per micro-batch (foreachBatch)
  //      — union over batches == the one-shot probe == the q250 oracle ----
  Q("q252_stream_lsh_probe", oracle =
      // q250: the stored-index probe equals the direct delta computation —
      // the oracle recomputes both sides' band buckets from raw text.
      // q252 is the STREAMING probe of the same index: micro-batches
      // partition the incoming set and flag rows are per-doc independent,
      // so the streamed union equals the same one-shot SQL.
      lshProbeOracleSql) { (s, dir) =>
      val tbl = lshIndexTable(dir)
      Dedup.ensureLshIndex(
        t(s, dir, "documents").where(col("doc_id") % 7 =!= 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
      // incoming batch + 2-file arrival split are this query's fixture
      Streams.streamLshIndexProbe(s,
        t(s, dir, "documents").select(col("doc_id"), col("text"))
          .where(col("doc_id") % 7 === 0),
        tbl,
        batchPreds = Seq(col("doc_id") % 14 === 0, col("doc_id") % 14 =!= 0),
        corpusFp = lshCorpusFp(dir))
  }

  // ---- streaming at 100 TB state: the q78 arbitrary-state aggregation
  //      with per-key state in ROCKSDB (off-heap, changelog-checkpointed)
  //      instead of the on-heap provider — same watermark semantics, same
  //      rows, so the scale configuration is oracle-checked every round,
  //      not just spec'd ----
  Q("q249_stream_rocksdb", oracle =
      """SELECT user_id, count(*) AS n_events, round(sum(value),4) AS sum_value
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      Streams.statefulUserTotalsRocksDb(s, dir)
  }
}
