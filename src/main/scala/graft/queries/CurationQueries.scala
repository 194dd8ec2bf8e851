package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{Bloom, Text}
import graft.operators._
import graft.queries.QueryKit._

/** Training-data curation: quality filters, decontamination, sampling
  * and mixing, splits, sequence packing, multimodal payloads and the
  * end-to-end pipeline capstones. */
object CurationQueries extends QueryFamily {

  // ---- multimodal: binary payload + typed mapPartitions decode stub ----
  Q("q47_multimodal", oracle =
      """WITH b AS (SELECT doc_id, strlen(text) AS n,
        |  list_aggregate(list_transform(range(1, strlen(text)+1), i -> ord(text[i])), 'sum') AS checksum
        |  FROM documents)
        |SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |(n % 64 + 1)::INT AS width, (n % 48 + 1)::INT AS height,
        |n::BIGINT AS n_bytes, checksum::BIGINT AS checksum
        |FROM b""".stripMargin) { (s, dir) =>
      Multimodal.extract(t(s, dir, "documents"), "doc_id", "text")
  }

  // ---- dataset prep at scale: deterministic global shuffle → balanced
  //      training shards — md5-order position via the distributed
  //      OrderedScan stitch (never a global single-task window), exact
  //      integer split into 8 shards ----
  Q("q153_shard_assign", oracle =
      """WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |r AS (SELECT doc_id, k, row_number() OVER (ORDER BY k) - 1 AS pos,
        |        count(*) OVER () AS n FROM d)
        |SELECT doc_id, k, pos, (pos * 8) // n AS shard FROM r""".stripMargin) { (s, dir) =>
      Sampling.shardAssign(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", nShards = 8,
        buckets = 16)
        .select(col("doc_id"), col("__k").as("k"), col("pos"), col("shard"))
  }

  // ---- dataset prep at scale: EPOCH-SALTED deterministic sampling —
  //      each epoch draws an independent md5-keyspace subsample
  //      (deterministic, growth-stable, engine-portable); census per
  //      (epoch, source) over 3 epochs ----
  Q("q161_epoch_mix", oracle =
      """SELECT e.epoch, d.source, count(*) AS n_docs
        |FROM documents d, unnest([0, 1, 2]) AS e(epoch)
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR) || ':' || CAST(e.epoch AS VARCHAR)),
        |             1, 2) < '40'
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // the census reads the corpus ONCE and fans out the 3 epoch arms
      // (explode of a 3-element array) rather than scanning per epoch;
      // production per-epoch jobs call Sampling.epochSample — the same
      // narrow md5 filter, one epoch at a time
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(sequence(lit(0L), lit(2L))).as("epoch"))
        .where(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))), 1, 2) < lit("40"))
        .groupBy(col("epoch"), col("source"))
        .agg(count(lit(1)).as("n_docs"))
  }

  // ---- dataset prep at scale: the TRAINING-SEQUENCE boundary index —
  //      docs concatenate in md5 order into 128-token sequences; each doc
  //      maps to (seq_id, tok_start, tok_end); one distributed prefix sum
  //      + integer DIV, hash-exact ----
  Q("q158_sequence_index", oracle =
      """WITH d AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |r AS (SELECT doc_id, n_tok,
        |        CAST(sum(n_tok) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d),
        |s AS (SELECT doc_id, n_tok, (cum - n_tok) // 128 AS seq_id,
        |        cum - n_tok - ((cum - n_tok) // 128) * 128 AS tok_start
        |      FROM r)
        |SELECT doc_id, n_tok, seq_id, tok_start, tok_start + n_tok AS tok_end
        |FROM s""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceIndex(docs, "doc_id", "n_tok", seqTokens = 128, buckets = 16)
        .select(col("doc_id"), col("n_tok"), col("seq_id"),
          col("tok_start"), col("tok_end"))
  }

  // ---- dataset mixing at scale: WATER-FILLING budget allocation — the
  //      max-min-fair per-source token plan (small sources keep all,
  //      big ones capped at one level); exact integer closed form over
  //      the stitched rank+prefix scan, Σalloc = budget exactly ----
  Q("q184_water_fill", oracle =
      s"""WITH $tokSql,
        |c AS (SELECT d.source, CAST(sum(t.n_tok) AS BIGINT) AS tokens
        |      FROM documents d JOIN toks t USING (doc_id) GROUP BY 1),
        |g AS (SELECT count(*) AS n, CAST(sum(tokens) AS BIGINT) AS tot,
        |      (CAST(sum(tokens) AS BIGINT) * 6) // 10 AS b FROM c),
        |r AS (SELECT c.*, row_number() OVER (ORDER BY tokens, source) AS pos,
        |      CAST(sum(tokens) OVER (ORDER BY tokens, source
        |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
        |f AS (SELECT r.*, g.n, g.b,
        |      (cum + (g.n - pos) * tokens <= g.b) AS fully FROM r CROSS JOIN g),
        |k AS (SELECT coalesce(max(CASE WHEN fully THEN pos END), 0) AS kk,
        |      CAST(coalesce(max(CASE WHEN fully THEN cum END), 0) AS BIGINT) AS pk FROM f)
        |SELECT source, tokens,
        |CAST(CASE WHEN pos <= kk THEN tokens
        |     ELSE (b - pk) // (n - kk)
        |          + (CASE WHEN pos - kk <= (b - pk) % (n - kk) THEN 1 ELSE 0 END)
        |END AS BIGINT) AS alloc
        |FROM f CROSS JOIN k""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy(col("source"))
        .agg(sum(Text.tokenCount(col("text"))).cast("long").as("tokens"))
      Sampling.waterFillBudget(counts, "source", "tokens",
        budgetNum = 6, budgetDen = 10, buckets = 4)
  }

  // ---- curation at scale: LEAKAGE-SAFE train/eval split — near-dup
  //      components (portable-minhash graph) propagate ONE md5-keyspace
  //      coin from the component representative, so near-duplicates can
  //      never straddle the split; per-document assignment verified
  //      value-by-value against the recursive-CTE oracle ----
  Q("q183_leakage_split", oracle =
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id)
        |SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS rep_id,
        |CASE WHEN substr(md5(CAST(coalesce(c.cluster, d.doc_id) AS VARCHAR)), 1, 2) < '20'
        |     THEN 'eval' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      Sampling.leakageSafeSplit(docs, "doc_id", pairs, evalFraction = 0.125)
        .select(col("doc_id"), col("rep_id").cast("long").as("rep_id"),
          col("split"))
  }

  // ---- sources: BINARY-FILE ingestion — the raw multimodal lake shape
  //      (one file per media item): payloads written file-per-doc by the
  //      EXECUTORS, listed+read back via format("binaryFile"), item id
  //      recovered from the path; byte fidelity certified by md5 vs the
  //      text oracle (payload = utf-8 bytes of the text, so DuckDB can
  //      replay the hash without reading any file) ----
  Q("q188_binaryfile_ingest", oracle =
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |md5(text) AS payload_md5
        |FROM documents WHERE doc_id < 200""".stripMargin) { (s, dir) =>
      val path = s"/tmp/graft_warehouse/media_files_${math.abs(dir.hashCode).toString.take(6)}"
      val fsP = new org.apache.hadoop.fs.Path(path)
      val fs = fsP.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(fsP, true)
      val media = Multimodal.packMedia(
        t(s, dir, "documents").where(col("doc_id") < 200), "doc_id", "text")
      Multimodal.writeMediaFiles(media, path)
      s.read.format("binaryFile").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("payload_md5"))
  }

  // ---- dataset prep at scale: DELTA sequence index (ingest shape) —
  //      append the odd-id batch to the even-id corpus stream; corpus
  //      contributes ONE total-token aggregate, existing spans never
  //      change, the batch continues the last partial sequence ----
  Q("q171_sequence_delta", oracle =
      """WITH d AS (SELECT doc_id,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |tot AS (SELECT CAST(coalesce(sum(n_tok), 0) AS BIGINT) AS ct
        |        FROM d WHERE doc_id % 2 = 0),
        |b AS (SELECT doc_id, n_tok, md5(CAST(doc_id AS VARCHAR)) AS k
        |      FROM d WHERE doc_id % 2 = 1),
        |r AS (SELECT doc_id, n_tok,
        |        CAST(sum(n_tok) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM b),
        |s AS (SELECT doc_id, n_tok, cum - n_tok + tot.ct AS st FROM r CROSS JOIN tot)
        |SELECT doc_id, n_tok, st // 128 AS seq_id,
        |  st - (st // 128) * 128 AS tok_start,
        |  st - (st // 128) * 128 + n_tok AS tok_end
        |FROM s""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceIndexDelta(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "doc_id", "n_tok", seqTokens = 128, buckets = 16)
        .select(col("doc_id"), col("n_tok"), col("seq_id"),
          col("tok_start"), col("tok_end"))
  }

  // ---- dataset prep at scale: BUDGET-CONSTRAINED quality selection —
  //      take the best documents (fixed-point quality order, md5
  //      tiebreak) until a global token budget; ONE fused rank+running-
  //      sum stitch over the encoded order key, exclusive-prefix cut
  //      (the budget-crossing doc stays, the packByTokens contract) ----
  Q("q169_budget_select", oracle =
      s"""WITH $tokSql,
         |q AS (SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
         |  CAST(round(round(least(n_tok/50.0, 1.0)*0.4 +
         |    (CASE WHEN length(t)::DOUBLE/n_tok >= 3 AND length(t)::DOUBLE/n_tok <= 10
         |          THEN 1.0 ELSE 0.5 END)*0.3 +
         |    (len(list_distinct(ws))::DOUBLE/n_tok)*0.3, 6) * 1000000) AS BIGINT) AS qu
         |  FROM toks WHERE n_tok > 0),
         |r AS (SELECT doc_id, qu, n_tok,
         |        CAST(sum(n_tok) OVER (ORDER BY qu DESC, md5(CAST(doc_id AS VARCHAR))
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
         |      FROM q)
         |SELECT doc_id, qu, n_tok, cum FROM r WHERE cum - n_tok < 6000""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_tok"),
        round(Text.qualityScore(col("text")) * 1e6).cast("long").as("qu"))
        .where(col("n_tok") > 0) // token-free docs have no budget position
      val keyed = docs.withColumn("__ok", concat(
        lpad((lit(10000000L) - col("qu")).cast("string"), 8, "0"), lit(":"),
        md5(col("doc_id").cast("string"))))
        // the quality projection (regex passes + distinct tokens) is
        // expensive — materialize once; the stitch's sampler, window and
        // summary branches would each re-evaluate it otherwise
        .localCheckpoint(true)
      OrderedScan.rowNumberAndSum(keyed, "__ok", "__rn", "n_tok", "__cum",
        buckets = 16)
        .withColumn("__cum", col("__cum").cast("long"))
        .where(col("__cum") - col("n_tok") < 6000)
        .select(col("doc_id"), col("qu"), col("n_tok"), col("__cum").as("cum"))
  }

  // ---- curation at scale: decontamination ATTRIBUTION — which eval
  //      sets each train doc leaks (shingle equi-join, per-doc sorted
  //      label list); the audit trail beside the drop list ----
  Q("q170_decontam_attribution", oracle =
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |tsh AS (SELECT doc_id, unnest(list_distinct(
        |          list_transform(range(1, len(ws) - 3),
        |            i -> array_to_string(ws[i:i+4], ' ')))) AS sh
        |        FROM d WHERE len(ws) >= 5),
        |pl AS (SELECT CASE WHEN doc_id < 10 THEN 'evalA' ELSE 'evalB' END AS label, ws
        |       FROM d WHERE doc_id < 20),
        |psh AS (SELECT DISTINCT label, unnest(list_distinct(
        |          list_transform(range(1, len(ws) - 3),
        |            i -> array_to_string(ws[i:i+4], ' ')))) AS sh
        |        FROM pl WHERE len(ws) >= 5),
        |hits AS (SELECT t.doc_id, p.label, count(*) AS h
        |         FROM tsh t JOIN psh p ON t.sh = p.sh
        |         GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT doc_id, string_agg(label, ',' ORDER BY label) AS sets,
        |       count(*) AS n_sets
        |FROM hits GROUP BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val probes = docs.where(col("doc_id") < 10)
        .select(lit("evalA").as("label"), col("text"))
        .unionAll(docs.where(col("doc_id") >= 10 && col("doc_id") < 20)
          .select(lit("evalB").as("label"), col("text")))
      Dedup.contaminationAttribution(docs, probes, "doc_id", "text", "label",
        n = 5, minHits = 3L)
  }

  // ---- dataset prep at scale: materialized TRAINING SEQUENCES — each
  //      128-token sequence's documents concatenated in stream order with
  //      an <eos> separator (the artifact the tokenizer actually eats);
  //      seq_id-keyed reassembly, order from tok_start offsets ----
  Q("q164_sequence_texts", oracle =
      """WITH d AS (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS k,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |d2 AS (SELECT * FROM d WHERE n_tok > 0),
        |r AS (SELECT doc_id, text, n_tok,
        |        CAST(sum(n_tok) OVER (ORDER BY k
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d2),
        |s AS (SELECT text, n_tok, (cum - n_tok) // 128 AS seq_id,
        |        cum - n_tok - ((cum - n_tok) // 128) * 128 AS tok_start
        |      FROM r)
        |SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |  string_agg(text, ' <eos> ' ORDER BY tok_start, text) AS seq_text
        |FROM s GROUP BY seq_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"))
      Packing.sequenceTexts(docs, "doc_id", "text", "n_tok",
        seqTokens = 128, buckets = 16)
  }

  // ---- curation at scale: per-source WINSORIZATION — outliers clamp to
  //      their own group's exact [5%, 95%] quantiles instead of dropping
  //      (row count preserved for downstream packing); census per source ----
  Q("q159_winsorize", oracle =
      """WITH q AS (SELECT source, quantile_cont(n_chars, 0.05) AS qlo,
        |           quantile_cont(n_chars, 0.95) AS qhi
        |           FROM documents GROUP BY 1)
        |SELECT d.source, count(*) AS n_docs,
        |  round(sum(least(greatest(n_chars::DOUBLE, qlo), qhi)), 4) AS sum_w,
        |  round(min(least(greatest(n_chars::DOUBLE, qlo), qhi)), 4) AS min_w,
        |  round(max(least(greatest(n_chars::DOUBLE, qlo), qhi)), 4) AS max_w
        |FROM documents d JOIN q ON d.source = q.source
        |GROUP BY d.source""".stripMargin) { (s, dir) =>
      Sampling.winsorizeByGroup(
        t(s, dir, "documents"), "source", "n_chars", 0.05, 0.95, "w_chars")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("w_chars")), 4).as("sum_w"),
          round(min(col("w_chars")), 4).as("min_w"),
          round(max(col("w_chars")), 4).as("max_w"))
  }

  // ---- multimodal: resize stub over binary payloads (mapPartitions) ----
  Q("q74_media_resize", oracle =
      """WITH b AS (SELECT doc_id, strlen(text) AS n, text FROM documents)
        |SELECT doc_id,
        |CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |8 AS width, 6 AS height,
        |CASE WHEN n = 0 THEN 0 ELSE
        |  list_aggregate(list_transform(range(0, 48),
        |    i -> ord(text[((i*n)//48)+1])), 'sum') END::BIGINT AS checksum
        |FROM b""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = Multimodal.packMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      Multimodal.resize(media, 8, 6).toDF()
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("checksum"))
  }

  // ---- multimodal: frame sampling (flatMap fan-out over "video") ----
  Q("q75_frame_sample", oracle =
      """WITH b AS (SELECT doc_id, strlen(text) AS n, text FROM documents),
        |f AS (SELECT doc_id, n, text, unnest(range(0, (n+31)//32, 2)) AS frame_idx
        |      FROM b WHERE n > 0)
        |SELECT doc_id, frame_idx::INT AS frame_idx, ((n+31)//32)::INT AS n_frames,
        |(least(frame_idx*32+32, n) - frame_idx*32)::INT AS frame_bytes,
        |list_aggregate(list_transform(range(frame_idx*32, least(frame_idx*32+32, n)),
        |  i -> ord(text[i+1])), 'sum')::BIGINT AS checksum
        |FROM f""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = Multimodal.packMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      Multimodal.frameSample(media, 32, 2).toDF()
  }

  // ---- curation: per-source document cap (no domain dominates the mix);
  //      one window partitioned by source — parallel across sources ----
  Q("q114_source_cap", oracle =
      """WITH r AS (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM r WHERE rn <= 10 GROUP BY source""".stripMargin) { (s, dir) =>
      Sampling.capPerGroup(t(s, dir, "documents"), "source",
        Seq(col("n_chars").desc, col("doc_id").asc), cap = 10)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_chars")).cast("long").as("chars_kept"))
  }

  // ---- curation: rare-token redaction (k-anonymity-style vocabulary
  //      clamping); reconstructed text md5-verified ----
  Q("q116_rare_redact", oracle =
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS t, unnest(range(1, len(w)+1)) AS pos FROM w),
        |dfq AS (SELECT t, count(*) AS df
        |        FROM (SELECT DISTINCT doc_id, t FROM tok) GROUP BY 1),
        |rare AS (SELECT t FROM dfq WHERE df <= 2),
        |red AS (SELECT doc_id, pos,
        |        CASE WHEN t IN (SELECT t FROM rare) THEN '<RARE>' ELSE t END AS t2,
        |        CASE WHEN t IN (SELECT t FROM rare) THEN 1 ELSE 0 END AS r
        |        FROM tok)
        |SELECT doc_id, CAST(sum(r) AS BIGINT) AS n_redacted,
        |md5(string_agg(t2, ' ' ORDER BY pos)) AS text_md5
        |FROM red GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Text.redactRareTokens(t(s, dir, "documents"), "doc_id", "text",
        maxDocFreq = 2)
  }

  // ---- curation: per-source exact-quantile length trimming (outlier
  //      docs out); group-quantile table broadcast back as a filter ----
  Q("q117_source_len_filter", oracle =
      """WITH q AS (SELECT source, quantile_cont(n_chars, 0.05) AS qlo,
        |           quantile_cont(n_chars, 0.95) AS qhi
        |           FROM documents GROUP BY 1)
        |SELECT d.source, count(*) AS n_kept, round(avg(n_chars), 6) AS avg_chars
        |FROM documents d JOIN q ON d.source = q.source
        |WHERE n_chars >= qlo AND n_chars <= qhi
        |GROUP BY d.source""".stripMargin) { (s, dir) =>
      Sampling.filterByGroupQuantiles(
        t(s, dir, "documents"), "source", "n_chars", 0.05, 0.95)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
  }

  // ---- curation: weighted sampling without replacement (A-ES priority
  //      keys over the md5 keyspace — deterministic, weight ∝ n_chars);
  //      per-lang census of the top-100 sample ----
  Q("q127_weighted_sample", oracle =
      """WITH hx AS (SELECT doc_id, lang, n_chars, substr(md5(doc_id::VARCHAR), 1, 8) AS h8
        |            FROM documents WHERE n_chars > 0),
        |hv AS (SELECT doc_id, lang, n_chars,
        |       (SELECT sum((strpos('0123456789abcdef', substr(h8, i, 1)) - 1)
        |               * pow(16, 8 - i)::BIGINT)
        |        FROM unnest(range(1, 9)) AS t(i)) AS h
        |       FROM hx),
        |p AS (SELECT doc_id, lang, n_chars,
        |      pow((h + 1)::DOUBLE / 4294967296.0, 1.0 / n_chars) AS prio FROM hv),
        |top AS (SELECT * FROM p ORDER BY prio DESC, doc_id LIMIT 100)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS w_sum
        |FROM top GROUP BY lang""".stripMargin) { (s, dir) =>
      Sampling.weightedPriority(t(s, dir, "documents"), "doc_id", "n_chars", k = 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("w_sum"))
  }

  // ---- curation at scale: Gopher-style rule-based quality gate — pure
  //      closed-form projection (mean word length from length(trim)),
  //      NO explode/shuffle; fixed-point micro units hash-exact ----
  Q("q139_gopher_rules", oracle =
      """WITH d AS (SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
        |           FROM documents),
        |m AS (SELECT doc_id, len(w) AS n_words,
        |        ((length(t) - (len(w) - 1)) * 1000000) // len(w) AS mean_wlen_u,
        |        len(w) - len(list_filter(w, x -> x NOT IN ('value', 'table'))) AS stop_hits
        |      FROM d)
        |SELECT doc_id, n_words, mean_wlen_u, stop_hits,
        |  CASE WHEN n_words BETWEEN 50 AND 100000
        |        AND mean_wlen_u BETWEEN 3000000 AND 10000000
        |        AND stop_hits >= 2 THEN 1 ELSE 0 END AS pass
        |FROM m""".stripMargin) { (s, dir) =>
      Text.gopherQualityFlags(t(s, dir, "documents"), "doc_id", "text")
  }

  // ---- curation at scale: PII scrubbing (email/IPv4/phone masks) over
  //      a synthesized contact tail — RE2-compatible patterns keep the
  //      regex text identical cross-engine; one codegen projection ----
  Q("q140_pii_scrub", oracle =
      """WITH d AS (SELECT doc_id,
        |   trim(text) || ' contact user' || doc_id || '@example.com ip 10.'
        |   || (doc_id % 256) || '.0.1 call +1415' || (doc_id + 1000000) AS t
        |   FROM documents),
        |s AS (SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(t,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |     '\+\d{7,15}', '<PHONE>', 'g') AS red,
        |   len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |   len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
        |   len(regexp_extract_all(t, '\+\d{7,15}')) AS n_phone
        |   FROM d)
        |SELECT doc_id, CAST(n_email AS BIGINT) AS n_email, CAST(n_ip AS BIGINT) AS n_ip,
        |       CAST(n_phone AS BIGINT) AS n_phone, md5(red) AS red_md5 FROM s""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"),
        concat(trim(col("text")), lit(" contact user"), col("doc_id"),
          lit("@example.com ip 10."), col("doc_id") % 256,
          lit(".0.1 call +1415"), col("doc_id") + 1000000).as("text"))
      Text.scrubPii(d, "doc_id", "text")
  }

  // ---- curation at scale: Bloom-prefiltered decontamination — probe
  //      shingles sketched into a bit array (no false negatives) prune
  //      the train side BEFORE the shuffle; exact equi-join removes the
  //      false positives, so the output is identical to q132's
  //      unfiltered large-probe form and shares its oracle ----
  Q("q141_decontaminate_bloom", oracle =
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(ws) < 3 THEN []
        |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
        |  END) AS sh
        |  FROM w),
        |pairs AS (
        |SELECT t.doc_id AS train_id, p.doc_id AS probe_id,
        |  len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) AS ov
        |FROM g t, g p
        |WHERE t.doc_id % 2 = 1 AND p.doc_id % 2 = 0 AND len(t.sh) > 0 AND len(p.sh) > 0)
        |SELECT train_id, probe_id, round(ov, 6) AS overlap
        |FROM pairs WHERE ov >= 0.5""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.ngramContaminationBloom(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, minOverlap = 0.5)
  }

  // ---- curation at scale: LARGE-PROBE decontamination — the probe set
  //      is itself a corpus (half the documents), so the pairs come from
  //      a shingle equi-join (one shuffle), not a broadcast nested-loop;
  //      ngramContamination auto-routes here above the broadcast
  //      threshold. r15: the occurrence join runs as a SHUFFLED HASH
  //      join (the SMJ sort was the 100× drill's largest spill; an
  //      always-on bloom pre-pass was tried and rejected by measurement
  //      — 75% of train shingles hit a corpus-shaped probe, see the
  //      operator scaladoc) ----
  Q("q132_decontaminate_large", oracle =
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(ws) < 3 THEN []
        |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
        |  END) AS sh
        |  FROM w),
        |pairs AS (
        |SELECT t.doc_id AS train_id, p.doc_id AS probe_id,
        |  len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) AS ov
        |FROM g t, g p
        |WHERE t.doc_id % 2 = 1 AND p.doc_id % 2 = 0 AND len(t.sh) > 0 AND len(p.sh) > 0)
        |SELECT train_id, probe_id, round(ov, 6) AS overlap
        |FROM pairs WHERE ov >= 0.5""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.ngramContaminationLarge(
        docs.where(col("doc_id") % 2 === 1), docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, minOverlap = 0.5)
  }

  // ---- curation: PIPELINE FUNNEL — per-source survival through the
  //      canonical curation stages (raw → exact-dedup keep → quality
  //      pass → decontaminated), the headline table of every dataset
  //      card. Composes the production operators themselves (Dedup
  //      .exact, Text.gopherQualityFlags, Dedup.ngramContamination);
  //      survivor/contaminated sets move as id-only tables (the
  //      contaminated set is pair-bounded → broadcast), one conditional
  //      aggregation pass emits every stage count ----
  Q("q300_pipeline_funnel", oracle =
      """WITH train AS (SELECT * FROM documents WHERE doc_id >= 10),
        |keep AS (SELECT min(doc_id) AS doc_id FROM train
        |         GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))),
        |d AS (SELECT doc_id, trim(text) AS t, string_split(trim(text), ' ') AS w
        |      FROM train),
        |q AS (SELECT doc_id, CASE WHEN len(w) BETWEEN 50 AND 100000
        |        AND ((length(t) - (len(w) - 1)) * 1000000) // len(w)
        |              BETWEEN 3000000 AND 10000000
        |        AND len(w) - len(list_filter(w, x -> x NOT IN ('value', 'table'))) >= 2
        |      THEN 1 ELSE 0 END AS pass FROM d),
        |w2 AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(ws) < 3 THEN []
        |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
        |  END) AS sh
        |  FROM w2),
        |contam AS (SELECT DISTINCT t.doc_id
        |  FROM g t, g p
        |  WHERE t.doc_id >= 10 AND p.doc_id < 10 AND len(t.sh) > 0 AND len(p.sh) > 0
        |    AND len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) >= 0.5),
        |base AS (SELECT tr.doc_id, tr.source,
        |  CAST(CASE WHEN length(trim(tr.text)) = 0 THEN 0
        |    ELSE length(trim(tr.text)) - length(replace(trim(tr.text),' ','')) + 1
        |  END AS BIGINT) AS n_tok,
        |  CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept,
        |  q.pass,
        |  CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS cont
        |  FROM train tr
        |  LEFT JOIN keep k USING (doc_id)
        |  JOIN q USING (doc_id)
        |  LEFT JOIN contam c USING (doc_id))
        |SELECT source, count(*)::BIGINT AS n_raw,
        |  CAST(sum(kept) AS BIGINT) AS n_dedup,
        |  CAST(sum(CASE WHEN kept = 1 AND pass = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_quality,
        |  CAST(sum(CASE WHEN kept = 1 AND pass = 1 AND cont = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean,
        |  CAST(sum(CASE WHEN kept = 1 AND pass = 1 AND cont = 0 THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS tokens_clean
        |FROM base GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") >= 10)
      val keep = Dedup.exact(train, "doc_id", "text")
        .select(col("keep_id").as("doc_id"), lit(1L).as("__kept"))
      val qual = Text.gopherQualityFlags(train, "doc_id", "text")
        .select(col("doc_id"), col("pass"))
      val contam = Dedup.ngramContamination(
          train, docs.where(col("doc_id") < 10), "doc_id", "text",
          n = 3, minOverlap = 0.5)
        .select(col("train_id").as("doc_id")).distinct()
        .withColumn("__cont", lit(1L))
      train
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"))
        .join(keep, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"))
        .join(broadcast(contam), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_raw"),
          sum(when(col("__kept") === 1L, 1L).otherwise(0L)).as("n_dedup"),
          sum(when(col("__kept") === 1L && col("pass") === 1L, 1L)
            .otherwise(0L)).as("n_quality"),
          sum(when(col("__kept") === 1L && col("pass") === 1L &&
            col("__cont").isNull, 1L).otherwise(0L)).as("n_clean"),
          sum(when(col("__kept") === 1L && col("pass") === 1L &&
            col("__cont").isNull, col("n_tok")).otherwise(0L))
            .as("tokens_clean"))
  }

  // ---- curation: DECONTAMINATION REPORT — q97's contamination pairs
  //      rolled up per eval probe: how many train docs leak it, and how
  //      badly (max overlap). The artifact an eval-integrity review
  //      actually reads; max over round-once overlaps is order-free ----
  Q("q292_decontam_report", oracle =
      // q292: q97's pair machinery rolled up per eval probe (max is
      // order-free over the round-once overlaps)
      decontamOracleSql.replace(
      "SELECT train_id, probe_id, round(ov, 6) AS overlap\nFROM pairs WHERE ov >= 0.5",
      "SELECT probe_id, count(*)::BIGINT AS n_contaminated_train,\n" +
        "  round(max(round(ov, 6)) * 1e6)::BIGINT AS max_overlap_u\n" +
        "FROM pairs WHERE ov >= 0.5 GROUP BY 1")) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.ngramContamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 0.5)
        .groupBy(col("probe_id"))
        .agg(count(lit(1)).as("n_contaminated_train"),
          round(max(col("overlap")) * lit(1e6)).cast("long").as("max_overlap_u"))
  }

  // ---- packing: SEQUENCE MANIFEST panel — per training sequence of the
  //      distributed stream index (q96/q169's machinery): docs started,
  //      tokens started, boundary-split docs. Sizes shard exports and
  //      attention-mask truncation loss before materializing ----
  Q("q282_sequence_stats", oracle =
      // q282: the md5-stream prefix sums of the distributed sequence index,
      // aggregated per sequence — all-integer
      """WITH d AS (SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (SELECT * FROM d WHERE n_tok > 0),
        |r AS (SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |  FROM f),
        |x AS (SELECT (cum - n_tok) // 2048 AS seq_id, n_tok,
        |    cum - n_tok - ((cum - n_tok) // 2048) * 2048 + n_tok AS tok_end
        |  FROM r)
        |SELECT seq_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS toks_started,
        |  CAST(sum(CASE WHEN tok_end > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_split
        |FROM x GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tok"))
        .where(col("n_tok") > 0)
      Packing.sequenceIndex(d, "doc_id", "n_tok", seqTokens = 2048)
        .groupBy(col("seq_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("toks_started"),
          sum(when(col("tok_end") > 2048, 1L).otherwise(0L)).as("n_split"))
  }

  // ---- capstone: the full curation pipeline in one plan — exact dedup →
  //      quality filter → decontamination → deterministic sample →
  //      token packing, hash-verified end-to-end ----
  Q("q109_pipeline_e2e", oracle =
      s"""WITH $tokSql,
         |fp AS (SELECT min(doc_id) AS doc_id FROM (
         |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS f
         |  FROM documents) GROUP BY f),
         |d AS (SELECT t.doc_id, t.n_tok FROM toks t JOIN fp USING (doc_id)
         |      WHERE t.n_tok >= 20 AND t.doc_id >= 5),
         |g AS (SELECT doc_id,
         |  list_distinct(CASE WHEN len(ws) < 3 THEN []
         |    ELSE list_transform(range(1, len(ws) - 1), i -> array_to_string(ws[i:i+2], ' '))
         |  END) AS sh FROM toks),
         |bad AS (SELECT DISTINCT t.doc_id FROM g t, g p
         |  WHERE t.doc_id >= 5 AND p.doc_id < 5 AND len(t.sh) > 0 AND len(p.sh) > 0
         |  AND len(list_intersect(t.sh, p.sh))::DOUBLE / len(p.sh) >= 0.5),
         |clean AS (SELECT * FROM d
         |  WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'),
         |c AS (SELECT doc_id, n_tok, sum(n_tok) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM clean)
         |SELECT CAST(floor((cum - n_tok) / 4096) AS BIGINT) AS bin,
         |count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val reps = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      // token count computed ONCE at the dedup join and carried through —
      // the quality filter and the final packing read the same column
      // instead of re-running the tokenizer
      val deduped = docs.join(reps, "doc_id")
        .withColumn("n_tok", Text.tokenCount(col("text")))
      val train = deduped.where(col("n_tok") >= 20 && col("doc_id") >= 5)
        .select(col("doc_id"), col("text"), col("n_tok"))
        // both the contamination probe-join and the final anti-join consume
        // `train` — materialize the dedup+filter subplan once instead of
        // recomputing fingerprints + the dedup join per branch
        .localCheckpoint(true)
      val contaminated = Dedup.ngramContamination(
        train, docs.where(col("doc_id") < 5), "doc_id", "text", n = 3, minOverlap = 0.5)
        .select(col("train_id").as("doc_id")).distinct()
      // contaminated ids are probe-set-sized; the checkpointed side has no
      // stats for AQE to see, so broadcast explicitly (SMJ otherwise)
      val clean = train.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      val sampled = Sampling.deterministic(clean, "doc_id", 0.5)
      Packing.packByTokens(sampled.select(col("doc_id"), col("n_tok")),
        "doc_id", "n_tok", targetTokens = 4096)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("long").as("bin_tokens"))
  }

  // ---- pipeline: temperature-based source mixing — oracle-verified:
  //      the closed-form (n/N)^(1/T) weights, keep-fractions, and hex
  //      keyspace threshold all replay in SQL ----
  Q("q100_temperature_mix", oracle =
      // temperatureMix's driver-side weight math is pure closed-form over the
      // per-stratum counts, so the whole sampler replays in SQL: same
      // (n/N)^(1/T) weights, same min(1, ...) keep-fractions, same
      // round(frac*256) hex threshold (NB lower(to_hex(..)): DuckDB's to_hex
      // is UPPERCASE, which sorts below the lowercase md5 keyspace and
      // silently shrinks every stratum), same md5-prefix keyspace filter.
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY 1),
        |tot AS (SELECT sum(n) AS t FROM c),
        |w AS (SELECT lang, n, pow(n / t, 1.0/3.0) AS wt FROM c, tot),
        |z AS (SELECT sum(wt) AS zz FROM w),
        |f AS (SELECT w.lang, w.n, least(1.0, 0.5 * tot.t * (w.wt / z.zz) / w.n) AS frac
        |      FROM w, z, tot),
        |th AS (SELECT lang, CASE WHEN round(frac * 256) >= 256 THEN 'zz'
        |       ELSE lpad(lower(to_hex(CAST(round(frac*256) AS BIGINT))), 2, '0') END AS thresh
        |       FROM f)
        |SELECT d.lang, count(*) AS n FROM documents d JOIN th ON d.lang = th.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < th.thresh
        |GROUP BY d.lang""".stripMargin) { (s, dir) =>
      Sampling.temperatureMix(t(s, dir, "documents"), "doc_id", "lang",
        temperature = 3.0, targetFraction = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
  }

  // ---- pipeline: deterministic stratified sampling (dataset mixing) ----
  Q("q95_stratified_sample", oracle =
      s"""WITH $tokSql
         |SELECT lang, count(*) AS n, CAST(sum(n_tok) AS BIGINT) AS toks
         |FROM toks JOIN documents USING (doc_id)
         |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
         |  CASE lang WHEN 'en' THEN '80' WHEN 'zh' THEN '40' ELSE '20' END
         |GROUP BY 1""".stripMargin) { (s, dir) =>
      Sampling.stratified(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), default = 0.125)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(Text.tokenCount(col("text"))).cast("long").as("toks"))
  }

  // ---- pipeline: token-budget sequence packing over the distributed
  //      running sum ----
  Q("q96_token_packing", oracle =
      s"""WITH $tokSql, c AS (
         |SELECT doc_id, n_tok,
         |sum(n_tok) OVER (ORDER BY doc_id
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |FROM toks)
         |SELECT CAST(floor((cum - n_tok) / 4096) AS BIGINT) AS bin,
         |count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
         |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
        .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tok"))
      Packing.packByTokens(d, "doc_id", "n_tok", targetTokens = 4096)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("bin_tokens"))
  }

  // ---- pipeline: benchmark decontamination (train vs probe n-gram
  //      overlap; probe side broadcast) ----
  Q("q97_decontaminate", oracle = decontamOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Dedup.ngramContamination(
        docs.where(col("doc_id") >= 10), docs.where(col("doc_id") < 10),
        "doc_id", "text", n = 3, minOverlap = 0.5)
  }

  // ---- curation: CCNet-style boilerplate line removal — lines (10-word
  //      windows) present in > maxDf distinct docs drop from EVERY doc;
  //      line-vocabulary df join + per-doc positional reassembly; the
  //      frequency-threshold complement of q154's keep-first ----
  Q("q218_boilerplate", oracle =
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |p AS (SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS para
        |      FROM d, unnest(range(0, greatest(1, CAST(ceil(len(w) / 10.0) AS BIGINT))))
        |        AS t(i)),
        |f AS (SELECT md5(para) AS h, count(DISTINCT doc_id) AS dfreq FROM p GROUP BY 1),
        |k AS (SELECT p.doc_id, p.pos, p.para,
        |        CASE WHEN f.dfreq <= 2 THEN 1 ELSE 0 END AS keep
        |      FROM p JOIN f ON md5(p.para) = f.h)
        |SELECT doc_id,
        |  coalesce(string_agg(para, ' ' ORDER BY pos) FILTER (WHERE keep = 1), '')
        |    AS clean_text,
        |  count(*) AS n_lines, CAST(sum(keep) AS BIGINT) AS n_kept
        |FROM k GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.boilerplateLines(t(s, dir, "documents"), "doc_id",
        Text.chunkArray(10, 0)(col("text")), maxDf = 2L)
  }

  // ---- multimodal: PACKFILE sharding (WebDataset pattern) — payloads
  //      concatenate into one blob per shard + a byte-offset index in
  //      ONE executor-side pass; fetch = index join + substr range
  //      read; fidelity census proves every payload survives the
  //      round-trip byte-exactly ----
  Q("q239_packfile_shards", oracle =
      // byte-exact round-trip: every doc must come back intact
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_intact
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"),
          col("text").cast("binary").as("payload"))
        .repartition(8, col("doc_id"))
      val (blobs, index) = Multimodal.packShards(docs, "doc_id", "payload")
      Multimodal.unpack(blobs, index)
        .join(docs.select(col("doc_id").as("id"), col("source"), col("text")),
          Seq("id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(expr("CAST(payload AS STRING)") === col("text"), 1L)
            .otherwise(0L)).as("n_intact"))
        .orderBy(col("source"))
  }

  // ---- ML-data tooling: GROUP K-FOLD — near-dup clusters dealt whole
  //      into 5 folds (no cross-fold leakage), clusters ranked in md5
  //      order of their representative via the distributed rowNumber
  //      stitch → fold group counts exactly balanced (±1) ----
  Q("q255_group_kfold", oracle =
      // q255: clusters from the full-graph walk; representative rank =
      // row_number over md5 — the SAME total order the rowNumber stitch
      // produces, so fold assignment is engine-exact
      """WITH RECURSIVE w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
        |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
        |        FROM w WHERE len(w) >= 3),
        |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        |seeds AS (SELECT unnest(range(0, 16)) AS s),
        |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
        |       FROM sh, seeds GROUP BY 1, 2),
        |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
        |       FROM mh GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id < b.doc_id),
        |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl),
        |pairs AS (SELECT c.id_a, c.id_b
        |          FROM cand c JOIN sets a ON c.id_a = a.doc_id
        |                      JOIN sets b ON c.id_b = b.doc_id
        |          WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
        |            / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.8),
        |edges AS (SELECT id_a AS a, id_b AS b FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |walk(id, label) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.a, w2.label FROM edges e JOIN walk w2 ON e.b = w2.id),
        |comp AS (SELECT id, min(label) AS cluster FROM walk GROUP BY id),
        |rep AS (SELECT d.doc_id, d.n_chars, coalesce(c.cluster, d.doc_id) AS rep_id
        |        FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
        |rk AS (SELECT rep_id, row_number() OVER (ORDER BY md5(rep_id::VARCHAR)) - 1 AS r
        |       FROM (SELECT DISTINCT rep_id FROM rep)),
        |f AS (SELECT rep.doc_id, rep.n_chars, rep.rep_id, rk.r % 5 AS fold
        |      FROM rep JOIN rk USING (rep_id))
        |SELECT fold, count(*) AS n_docs, count(DISTINCT rep_id) AS n_groups,
        |  CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM f GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLshPortable(docs, "doc_id", "text",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.8)
        .select(col("id_a"), col("id_b"))
      Sampling.groupKFold(docs, "doc_id", pairs, k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep_id")).as("n_groups"),
          sum(col("n_chars")).as("chars"))
  }
}
