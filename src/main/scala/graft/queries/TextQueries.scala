package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Par, Sketches, Text}
import graft.operators._
import graft.queries.QueryKit._

/** Text analysis and data-card panels: token statistics, language ID,
  * tokenizer and phrase mining, retrieval (TF-IDF, BM25), drift and
  * corpus-shape reports. */
object TextQueries extends QueryFamily {

  // ---- text analysis: token counts + quality scoring per doc ----
  Q("q37_text_stats", oracle =
      s"""WITH $tokSql
         |SELECT doc_id, n_tok,
         |len(list_distinct(ws)) AS n_distinct,
         |round(least(n_tok/50.0, 1.0)*0.4 +
         |  (CASE WHEN length(t)::DOUBLE/n_tok >= 3 AND length(t)::DOUBLE/n_tok <= 10
         |        THEN 1.0 ELSE 0.5 END)*0.3 +
         |  (len(list_distinct(ws))::DOUBLE/n_tok)*0.3, 6) AS quality
         |FROM toks""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        Text.tokenCount(col("text")).as("n_tok"),
        size(array_distinct(Text.tokens(col("text")))).as("n_distinct"),
        Text.qualityScore(col("text")).as("quality"))
  }

  // ---- text analysis: document fingerprinting ----
  Q("q38_fingerprint", oracle =
      """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
  }

  // ---- text analysis: language-ID heuristic (stopword argmax) ----
  Q("q39_lang_id", oracle =
      s"""WITH $tokSql, scores AS (
         |SELECT doc_id,
         |len(list_filter(ws, x -> x='the'))+len(list_filter(ws, x -> x='a'))
         |  +len(list_filter(ws, x -> x='of'))+len(list_filter(ws, x -> x='and'))
         |  +len(list_filter(ws, x -> x='is')) AS s_en,
         |len(list_filter(ws, x -> x='der'))+len(list_filter(ws, x -> x='die'))
         |  +len(list_filter(ws, x -> x='und'))+len(list_filter(ws, x -> x='ist'))
         |  +len(list_filter(ws, x -> x='das')) AS s_de,
         |len(list_filter(ws, x -> x='el'))+len(list_filter(ws, x -> x='la'))
         |  +len(list_filter(ws, x -> x='de'))+len(list_filter(ws, x -> x='y'))
         |  +len(list_filter(ws, x -> x='es')) AS s_es,
         |len(list_filter(ws, x -> x='le'))+len(list_filter(ws, x -> x='la'))
         |  +len(list_filter(ws, x -> x='et'))+len(list_filter(ws, x -> x='est'))
         |  +len(list_filter(ws, x -> x='les')) AS s_fr,
         |len(list_filter(ws, x -> x='的'))+len(list_filter(ws, x -> x='是'))
         |  +len(list_filter(ws, x -> x='了'))+len(list_filter(ws, x -> x='在'))
         |  +len(list_filter(ws, x -> x='和')) AS s_zh
         |FROM toks)
         |SELECT doc_id, CASE
         |  WHEN s_zh > greatest(s_en, s_de, s_es, s_fr) THEN 'zh'
         |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
         |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
         |  WHEN s_de > s_en THEN 'de'
         |  ELSE 'en' END AS lang_guess
         |FROM scores""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), Text.langId(col("text")).as("lang_guess"))
  }

  // ---- text analysis: corpus-level token statistics ----
  Q("q40_token_corpus", oracle =
      s"""WITH $tokSql
         |SELECT count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |round(avg(n_tok), 6) AS avg_tokens,
         |count(DISTINCT md5(regexp_replace(lower(t), '[^a-z0-9]', '', 'g'))) AS n_unique
         |FROM toks""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(Text.tokenCount(col("text"))).as("total_tokens"),
        round(avg(Text.tokenCount(col("text"))), 6).as("avg_tokens"),
        countDistinct(Text.fingerprint(col("text"))).as("n_unique"))
  }

  // ---- model-based curation at scale: multinomial Naive Bayes trained
  //      on the even-id split (source = class), applied to the odd-id
  //      split; fixed-point micro-nat log-probs make train→score→argmax
  //      hash-exact cross-engine ----
  Q("q155_naive_bayes", oracle =
      """WITH tr AS (SELECT doc_id, source AS cls, string_split(trim(text), ' ') AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        |te AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |       FROM documents WHERE doc_id % 2 = 1),
        |cnt AS (SELECT cls, t, count(*) AS ct
        |        FROM (SELECT cls, unnest(w) AS t FROM tr) GROUP BY 1, 2),
        |tot AS (SELECT cls, CAST(sum(ct) AS BIGINT) AS tot_c FROM cnt GROUP BY 1),
        |voc AS (SELECT count(DISTINCT t) AS v FROM cnt),
        |ntr AS (SELECT count(DISTINCT doc_id) AS n_train FROM tr),
        |ncls AS (SELECT cls, count(DISTINCT doc_id) AS n_docs_c FROM tr GROUP BY 1),
        |cs AS (SELECT ncls.cls,
        |         CAST(round(ln(ncls.n_docs_c::DOUBLE / ntr.n_train) * 1000000)
        |           AS BIGINT) AS prior_u,
        |         CAST(round(ln(1.0 / (tot.tot_c + voc.v)) * 1000000)
        |           AS BIGINT) AS default_u,
        |         tot.tot_c, voc.v
        |       FROM ncls JOIN tot ON ncls.cls = tot.cls CROSS JOIN voc CROSS JOIN ntr),
        |m AS (SELECT cnt.cls, cnt.t,
        |        CAST(round(ln((cnt.ct + 1.0) / (cs.tot_c + cs.v)) * 1000000)
        |          AS BIGINT) AS lp_u
        |      FROM cnt JOIN cs ON cnt.cls = cs.cls),
        |dt AS (SELECT doc_id, t, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(w) AS t FROM te) GROUP BY 1, 2),
        |sc AS (SELECT dt.doc_id, cs.cls,
        |         CAST(sum(dt.tf * coalesce(m.lp_u, cs.default_u)) AS BIGINT)
        |           + max(cs.prior_u) AS score_u
        |       FROM dt CROSS JOIN cs
        |       LEFT JOIN m ON m.cls = cs.cls AND m.t = dt.t
        |       GROUP BY 1, 2)
        |SELECT doc_id, cls AS pred, score_u
        |FROM (SELECT doc_id, cls, score_u,
        |        row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, cls)
        |          AS rn FROM sc)
        |WHERE rn = 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      Text.naiveBayesPredict(
        docs.where(col("doc_id") % 2 === 0), docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", "source")
  }

  // ---- tokenizer precursor at scale: VOCABULARY COVERAGE — top-500
  //      vocab by frequency with the cumulative corpus-coverage curve;
  //      the global (count desc, term) ranking rides the OrderedScan
  //      stitch over ONE encoded lexicographic key (a 10⁸-term web
  //      vocabulary would single-task a plain Window) ----
  Q("q162_vocab_coverage", oracle =
      """WITH tokc AS (SELECT t, count(*) AS ct FROM
        |    (SELECT unnest(string_split(trim(text), ' ')) AS t FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM tokc),
        |r AS (SELECT t, ct, row_number() OVER (ORDER BY ct DESC, t) AS rank,
        |        CAST(sum(ct) OVER (ORDER BY ct DESC, t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM tokc)
        |SELECT rank, t AS term, ct, (cum * 1000000) // tot.n AS cov_ppm
        |FROM r CROSS JOIN tot WHERE rank <= 500""".stripMargin) { (s, dir) =>
      Text.vocabCoverage(t(s, dir, "documents"), "text", vocabSize = 500,
        buckets = 16)
  }

  // ---- phrase mining at scale: PMI bigram collocations (word2phrase) —
  //      fixed-point micro-nat PMI, min-count 5, deterministic top-100;
  //      unigram table joins back size-gated, totals broadcast ----
  Q("q163_pmi_bigrams", oracle =
      """WITH w AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        |toks AS (SELECT unnest(ws) AS t FROM w),
        |uni AS (SELECT t, count(*) AS c1 FROM toks GROUP BY 1),
        |n1 AS (SELECT count(*) AS n1 FROM toks),
        |bg AS (SELECT array_to_string(ws[i:i+1], ' ') AS bg
        |       FROM w, unnest(range(1, len(ws))) AS x(i) WHERE len(ws) >= 2),
        |bi AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY 1),
        |n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM bi),
        |f AS (SELECT c2, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
        |      FROM bi WHERE c2 >= 5),
        |p AS (SELECT f.w1, f.w2, f.c2,
        |        CAST(round(ln((f.c2::DOUBLE / n2.n2) /
        |          ((ux.c1::DOUBLE / n1.n1) * (uy.c1::DOUBLE / n1.n1))) * 1000000)
        |          AS BIGINT) AS pmi_u
        |      FROM f JOIN uni ux ON f.w1 = ux.t JOIN uni uy ON f.w2 = uy.t
        |      CROSS JOIN n1 CROSS JOIN n2)
        |SELECT w1, w2, c2, pmi_u FROM p
        |ORDER BY pmi_u DESC, w1, w2 LIMIT 100""".stripMargin) { (s, dir) =>
      Text.pmiBigrams(t(s, dir, "documents"), "text", minCount = 5L, topK = 100)
  }

  // ---- tokenizer training at scale: ONE BPE merge round (Sennrich) —
  //      adjacent char-pair counts weighted by word frequency, computed
  //      on the deduplicated WORD table (vocabulary-sized), never the
  //      raw corpus; the top row is the merge the trainer would pick ----
  Q("q165_bpe_merge_pairs", oracle =
      """WITH words AS (SELECT w, count(*) AS wc FROM
        |    (SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |p AS (SELECT substr(w, CAST(i AS INT), 2) AS pair, wc
        |      FROM words, unnest(range(1, length(w))) AS x(i)
        |      WHERE length(w) >= 2)
        |SELECT pair, CAST(sum(wc) AS BIGINT) AS n FROM p
        |GROUP BY 1 ORDER BY n DESC, pair LIMIT 50""".stripMargin) { (s, dir) =>
      val words = t(s, dir, "documents")
        .select(explode(Text.tokens(col("text"))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      words.where(length(col("w")) >= 2)
        .select(col("wc"), explode(transform(
          sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(50)
  }

  // ---- operations at scale: mergeable-sketch distinct census — per-
  //      shard HLL sketches (the storable incremental-profile blob)
  //      union into per-source vocabulary estimates; output is the
  //      EXACT count + an in-query 5% error certificate, so the hash
  //      match proves the sketch arm stayed in bounds (q135 pattern) ----
  Q("q186_hll_census", oracle =
      """WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
        |             FROM documents)
        |SELECT source, count(DISTINCT tok) AS n_distinct,
        |CAST(1 AS BIGINT) AS within
        |FROM tok GROUP BY 1""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val toks = docs.select(col("source"), col("doc_id"),
        explode(Text.tokens(col("text"))).as("tok"))
      Sketches.distinctCensusHll(toks, "source", "tok",
        pmod(col("doc_id"), lit(8)))
  }

  // ---- dataset prep at scale: PER-SOURCE sequence index — when streams
  //      are packed per domain, the prefix sum is a window PARTITIONED
  //      by source (key-parallel, no stitch needed — the partitioned
  //      complement of q158's global stream) ----
  Q("q177_group_sequence_index", oracle =
      """WITH d AS (SELECT doc_id, source,
        |             CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |               ELSE len(string_split(trim(text), ' ')) END AS BIGINT) AS n_tok
        |           FROM documents),
        |r AS (SELECT doc_id, source, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR))
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM d)
        |SELECT doc_id, source, n_tok, (cum - n_tok) // 128 AS seq_id,
        |  cum - n_tok - ((cum - n_tok) // 128) * 128 AS tok_start
        |FROM r""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"))
        .withColumn("__cum", sum(col("n_tok")).over(w))
        .withColumn("seq_id", expr("(__cum - n_tok) DIV 128"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("seq_id"),
          (col("__cum") - col("n_tok") - col("seq_id") * 128).as("tok_start"))
  }

  // ---- reporting at scale: the DATASET DATASHEET — per-source data
  //      card (docs, tokens, exact-dup ppm, mean quality, length
  //      percentiles) in ONE grouped aggregate over one scan; the
  //      artifact a curation run publishes next to the shards ----
  Q("q172_data_card", oracle =
      s"""WITH $tokSql,
         |q AS (SELECT doc_id, source, n_chars, CAST(t.n_tok AS BIGINT) AS n_tok,
         |  md5(regexp_replace(lower(d.text), '[^a-z0-9]', '', 'g')) AS fp,
         |  round(least(t.n_tok/50.0, 1.0)*0.4 +
         |    (CASE WHEN length(t.t)::DOUBLE/t.n_tok >= 3
         |           AND length(t.t)::DOUBLE/t.n_tok <= 10
         |          THEN 1.0 ELSE 0.5 END)*0.3 +
         |    (len(list_distinct(t.ws))::DOUBLE/t.n_tok)*0.3, 6) AS quality
         |  FROM toks t JOIN documents d USING (doc_id))
         |SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  count(DISTINCT fp) AS n_unique,
         |  ((count(*) - count(DISTINCT fp)) * 1000000) // count(*) AS dup_ppm,
         |  round(avg(quality), 6) AS avg_quality,
         |  quantile_cont(n_chars, 0.5) AS p50_chars,
         |  quantile_cont(n_chars, 0.95) AS p95_chars
         |FROM q GROUP BY source""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"), col("n_chars"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"),
          Text.fingerprint(col("text")).as("fp"),
          Text.qualityScore(col("text")).as("quality"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("fp")).as("n_unique"),
          expr("((count(1) - count(DISTINCT fp)) * 1000000) DIV count(1)")
            .as("dup_ppm"),
          round(avg(col("quality")), 6).as("avg_quality"),
          percentile(col("n_chars"), lit(0.5)).as("p50_chars"),
          percentile(col("n_chars"), lit(0.95)).as("p95_chars"))
  }

  // ---- keyword extraction at scale: TEXTRANK — fixed-point integer
  //      PageRank over the term co-occurrence graph, 2 iterations; each
  //      round is two key-parallel shuffles, the oracle replays the
  //      ladder unrolled (the q124 integer-Lloyd pattern on a graph) ----
  Q("q167_textrank", oracle =
      """WITH w0 AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        |bg AS (SELECT array_to_string(ws[i:i+1], ' ') AS bg
        |       FROM w0, unnest(range(1, len(ws))) AS x(i) WHERE len(ws) >= 2),
        |bc AS (SELECT bg, count(*) AS w FROM bg GROUP BY 1),
        |bu AS (SELECT string_split(bg, ' ')[1] AS u, string_split(bg, ' ')[2] AS v, w
        |       FROM bc),
        |e AS (SELECT u, v, CAST(sum(w) AS BIGINT) AS w FROM
        |        (SELECT u, v, w FROM bu UNION ALL SELECT v, u, w FROM bu)
        |      GROUP BY 1, 2),
        |ow AS (SELECT u, CAST(sum(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |p AS (SELECT 1000000000000 // count(*) AS base FROM ow),
        |r0 AS (SELECT u AS t, (SELECT base FROM p) AS r FROM ow),
        |c1 AS (SELECT e.v AS t, CAST(sum((r0.r * e.w) // ow.wout) AS BIGINT) AS cin
        |       FROM e JOIN ow ON e.u = ow.u JOIN r0 ON r0.t = e.u GROUP BY 1),
        |r1 AS (SELECT r0.t,
        |         ((SELECT base FROM p) * 15) // 100
        |           + (85 * coalesce(c1.cin, 0)) // 100 AS r
        |       FROM r0 LEFT JOIN c1 ON r0.t = c1.t),
        |c2 AS (SELECT e.v AS t, CAST(sum((r1.r * e.w) // ow.wout) AS BIGINT) AS cin
        |       FROM e JOIN ow ON e.u = ow.u JOIN r1 ON r1.t = e.u GROUP BY 1),
        |r2 AS (SELECT r1.t,
        |         ((SELECT base FROM p) * 15) // 100
        |           + (85 * coalesce(c2.cin, 0)) // 100 AS r
        |       FROM r1 LEFT JOIN c2 ON r1.t = c2.t)
        |SELECT t AS term, r AS rank_u FROM r2 ORDER BY r DESC, t LIMIT 20""".stripMargin) { (s, dir) =>
      Text.textRankTerms(t(s, dir, "documents"), "text", iters = 2, topK = 20)
  }

  // ---- text: BPE-ish regex token counting (pipeline brief) ----
  Q("q88_bpe_tokens", oracle =
      """WITH b AS (SELECT
        |  len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS np,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS nw
        |  FROM documents)
        |SELECT CAST(sum(np) AS BIGINT) AS total_pieces, round(avg(np),6) AS avg_pieces,
        |CAST(sum(nw) AS BIGINT) AS total_ws_tokens FROM b""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").agg(
        sum(Text.bpeTokenCount(col("text"))).as("total_pieces"),
        round(avg(Text.bpeTokenCount(col("text"))), 6).as("avg_pieces"),
        sum(Text.tokenCount(col("text"))).as("total_ws_tokens"))
  }

  // ---- curation: TF-IDF top terms per doc (explode + two hash aggs +
  //      vocabulary-sized join; ranking windowed per doc) ----
  Q("q115_tfidf", oracle =
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents WHERE doc_id < 100),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM d),
        |s AS (SELECT tf.doc_id, tf.term,
        |      tf.tf * ln((n.n_docs + 1.0) / (dfq.df + 1.0)) AS score
        |      FROM tf JOIN dfq USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, rank, term, round(score, 6) AS score FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      Text.tfidfTopTerms(
        t(s, dir, "documents").where(col("doc_id") < 100), "doc_id", "text", 3)
  }

  // ---- retrieval at scale: Okapi BM25 index-time term weights (top-3
  //      per doc) — tf checkpointed once, df/length stats derived from
  //      it, per-doc ranking windows; Lucene-style positive idf ----
  Q("q148_bm25", oracle =
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w
        |           FROM documents WHERE doc_id < 100),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |s AS (SELECT tf.doc_id, tf.term,
        |      ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |        * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS score
        |      FROM tf JOIN dl USING (doc_id) JOIN dfq USING (term) CROSS JOIN st),
        |r AS (SELECT doc_id, term, score,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, rank, term, round(score, 6) AS score FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      Text.bm25TopTerms(t(s, dir, "documents").where(col("doc_id") < 100),
        "doc_id", "text", kTop = 3)
  }

  // ---- retrieval at scale: inverted index (term → df + ascending
  //      posting list) — the structure BM25 walks; posting lists join
  //      as portable comma strings; partition-by-term is the layout ----
  Q("q149_inverted_index", oracle =
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
        |             FROM documents),
        |dt AS (SELECT DISTINCT doc_id, term FROM tok)
        |SELECT term, count(*) AS df,
        |       array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM dt GROUP BY term HAVING count(*) >= 3""".stripMargin) { (s, dir) =>
      Text.invertedIndex(t(s, dir, "documents"), "doc_id", "text", minDf = 3L)
  }

  // ---- retrieval at scale: end-to-end BM25 SEARCH — a query set (first
  //      3 tokens of docs 0-4) scored against the whole corpus, top-5
  //      docs per query; per-term micro-point contributions integer-sum
  //      so ranking is engine-exact ----
  Q("q150_bm25_search", oracle =
      """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |tok AS (SELECT doc_id, unnest(w) AS term FROM d),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |qt AS (SELECT doc_id AS query_id, unnest(list_distinct(w[1:3])) AS term
        |       FROM d WHERE doc_id < 5),
        |s AS (SELECT qt.query_id, tf.doc_id,
        |      CAST(round((ln(1 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
        |        * tf.tf * 2.2 / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)))
        |        * 1000000) AS BIGINT) AS score_u
        |      FROM qt JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id
        |      JOIN dfq ON tf.term = dfq.term CROSS JOIN st),
        |g AS (SELECT query_id, doc_id, CAST(sum(score_u) AS BIGINT) AS score_u
        |      FROM s GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, score_u,
        |      row_number() OVER (PARTITION BY query_id
        |                         ORDER BY score_u DESC, doc_id) AS rank
        |      FROM g)
        |SELECT query_id, rank, doc_id, score_u FROM r WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(Text.tokens(col("text")), 1, 3)).as("qtext"))
      Text.bm25Search(docs, "doc_id", "text", queries, "query_id", "qtext", kTop = 5)
  }

  // ---- curation at scale: per-source unigram KL drift vs the blended
  //      corpus — the dataset-mixing diagnostic; fixed-point micro-nats
  //      (per-term log rounded once, integer-scaled and -summed) keep it
  //      hash-exact; corpus stats DERIVE from the one (source,term) agg ----
  Q("q142_source_drift", oracle =
      """WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |st AS (SELECT source, t, count(*) AS c_st FROM tok GROUP BY 1, 2),
        |corpus AS (SELECT t, sum(c_st) AS c_t FROM st GROUP BY 1),
        |ns AS (SELECT source, sum(c_st) AS n_s FROM st GROUP BY 1),
        |n AS (SELECT sum(c_st) AS n_tot FROM st)
        |SELECT st.source, CAST(max(n_s) AS BIGINT) AS n_tokens,
        |  CAST(sum(c_st * CAST(round(ln((c_st / n_s) / (c_t / n_tot)) * 1000000)
        |       AS BIGINT)) AS BIGINT) // CAST(max(n_s) AS BIGINT) AS kl_micro_per_tok
        |FROM st JOIN corpus USING (t) JOIN ns USING (source) CROSS JOIN n
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Text.sourceTokenDrift(t(s, dir, "documents"), "text", "source")
  }

  // ---- curation at scale: heavy-hitter tokens via count-min sketch
  //      pruning + exact verify — the shuffle carries only candidate
  //      rows, yet the output is EXACTLY the true heavy-hitter set
  //      (CMS never underestimates; exact count trims overestimates) ----
  Q("q135_heavy_hitters", oracle =
      """WITH t AS (SELECT unnest(string_split(trim(text), ' ')) AS term FROM documents)
        |SELECT term, count(*) AS n FROM t GROUP BY term HAVING count(*) >= 200""".stripMargin) { (s, dir) =>
      Text.heavyHitterTokens(t(s, dir, "documents"), "doc_id", "text", minCount = 200L)
  }

  // ---- data-card: TOKENIZER FERTILITY per language — BPE-ish pieces
  //      per whitespace word and chars per piece (the sequence-length
  //      cost panel); all-integer figures, micro-unit integer DIV, one
  //      projection + one hash agg — no explode, no window ----
  Q("q296_token_fertility", oracle =
      """WITH b AS (SELECT lang,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS nw,
        |  len(regexp_extract_all(text, '''[a-z]+| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS np,
        |  length(trim(text)) AS nc
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |CAST(sum(nw) AS BIGINT) AS total_words,
        |CAST(sum(np) AS BIGINT) AS total_pieces,
        |CAST(sum(nc) AS BIGINT) AS total_chars,
        |CAST(sum(np) * 1000000 // NULLIF(sum(nw), 0) AS BIGINT) AS fertility_u,
        |CAST(sum(nc) * 1000000 // NULLIF(sum(np), 0) AS BIGINT) AS chars_per_piece_u
        |FROM b GROUP BY 1""".stripMargin) { (s, dir) =>
      Text.tokenizerFertility(t(s, dir, "documents"), "lang", "text")
  }

  // ---- curation: PSI of each source's length distribution vs the
  //      blended corpus over fixed 64-char buckets — the mixing-shift
  //      gate (PSI>0.25 = source drifted); micro-nat fixed point,
  //      ONE (source,bucket) agg feeds every derived total ----
  Q("q297_psi_length", oracle =
      """WITH gb AS (SELECT source, n_chars // 64 AS b, count(*) AS c_gb
        |            FROM documents GROUP BY 1, 2),
        |ng AS (SELECT source, sum(c_gb) AS n_g FROM gb GROUP BY 1),
        |cb AS (SELECT b, sum(c_gb) AS c_b FROM gb GROUP BY 1),
        |n AS (SELECT sum(c_gb) AS n_tot FROM gb)
        |SELECT source, CAST(max(n_g) AS BIGINT) AS n_docs,
        |CAST(sum(CAST(round((c_gb / n_g - c_b / n_tot)
        |  * ln((c_gb / n_g) / (c_b / n_tot)) * 1000000) AS BIGINT)) AS BIGINT) AS psi_u
        |FROM gb JOIN ng USING (source) JOIN cb USING (b) CROSS JOIN n
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      Text.psiByBucket(t(s, dir, "documents"), "source", "n_chars", 64L)
  }

  // ---- curation: BIGRAM conditional NLL per doc — the order-sensitive
  //      perplexity proxy (catches scrambled boilerplate the unigram
  //      score misses); corpus-as-LM, first-word totals derived from
  //      the bigram vocabulary, micro-nat fixed point ----
  Q("q298_bigram_nll", oracle =
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |bgl AS (SELECT doc_id, list_transform(range(1, len(ws)),
        |        i -> ws[i] || ' ' || ws[i+1]) AS gs
        |        FROM w WHERE len(ws) >= 2),
        |bg AS (SELECT doc_id, unnest(gs) AS g FROM bgl),
        |c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY 1),
        |c2w AS (SELECT g, c2, string_split(g, ' ')[1] AS w1 FROM c2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2w GROUP BY 1),
        |s AS (SELECT doc_id, CAST(round(-ln(c2 / c1) * 1e6) AS BIGINT) AS nll
        |      FROM bg JOIN c2w USING (g) JOIN c1 USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |round(sum(nll) / 1e6 / count(*), 4) AS avg_nll
        |FROM s GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Text.bigramNll(t(s, dir, "documents"), "doc_id", "text")
  }

  // ---- data-card: language-ID CONFUSION census — the stopword-argmax
  //      guess cross-tabbed against the labeled lang column with
  //      per-label shares (heuristic accuracy panel); share via a
  //      window OVER the label-level aggregate (q290 pattern), so the
  //      window input is label-cardinality, never corpus rows ----
  Q("q299_langid_confusion", oracle =
      """WITH tk AS (SELECT lang, string_split(trim(text), ' ') AS ws FROM documents),
        |scores AS (SELECT lang,
        |len(list_filter(ws, x -> x='the'))+len(list_filter(ws, x -> x='a'))
        |  +len(list_filter(ws, x -> x='of'))+len(list_filter(ws, x -> x='and'))
        |  +len(list_filter(ws, x -> x='is')) AS s_en,
        |len(list_filter(ws, x -> x='der'))+len(list_filter(ws, x -> x='die'))
        |  +len(list_filter(ws, x -> x='und'))+len(list_filter(ws, x -> x='ist'))
        |  +len(list_filter(ws, x -> x='das')) AS s_de,
        |len(list_filter(ws, x -> x='el'))+len(list_filter(ws, x -> x='la'))
        |  +len(list_filter(ws, x -> x='de'))+len(list_filter(ws, x -> x='y'))
        |  +len(list_filter(ws, x -> x='es')) AS s_es,
        |len(list_filter(ws, x -> x='le'))+len(list_filter(ws, x -> x='la'))
        |  +len(list_filter(ws, x -> x='et'))+len(list_filter(ws, x -> x='est'))
        |  +len(list_filter(ws, x -> x='les')) AS s_fr,
        |len(list_filter(ws, x -> x='的'))+len(list_filter(ws, x -> x='是'))
        |  +len(list_filter(ws, x -> x='了'))+len(list_filter(ws, x -> x='在'))
        |  +len(list_filter(ws, x -> x='和')) AS s_zh
        |FROM tk),
        |g AS (SELECT lang, CASE
        |  WHEN s_zh > greatest(s_en, s_de, s_es, s_fr) THEN 'zh'
        |  WHEN s_fr > greatest(s_en, s_de, s_es) THEN 'fr'
        |  WHEN s_es > greatest(s_en, s_de) THEN 'es'
        |  WHEN s_de > s_en THEN 'de'
        |  ELSE 'en' END AS lang_guess
        |FROM scores),
        |c AS (SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY 1, 2)
        |SELECT lang, lang_guess, n_docs,
        |CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS share_u
        |FROM c""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      t(s, dir, "documents")
        .select(col("lang"), Text.langId(col("text")).as("lang_guess"))
        .groupBy(col("lang"), col("lang_guess")).agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_total", sum(col("n_docs")).over(w))
        .withColumn("share_u", expr("n_docs * 1000000L DIV lang_total"))
        .select(col("lang"), col("lang_guess"), col("n_docs"), col("share_u"))
  }

  // ---- data-card: DUPLICATE N-GRAM RATE per source — the fraction of
  //      trigram occurrences that are intra-document repeats (the
  //      repetition signal of large-corpus quality filtering: looped
  //      generation and boilerplate inflate it), plus the census of
  //      docs over the 20% filter line. All-integer: dup occurrences =
  //      count − distinct per doc, the flag threshold is an exact
  //      integer cross-multiplication, the rate is micro-unit DIV ----
  Q("q301_dup_ngram_rate", oracle =
      """WITH w AS (SELECT source, doc_id, string_split(trim(text), ' ') AS ws
        |           FROM documents),
        |g AS (SELECT source, doc_id,
        |        unnest(list_transform(range(1, len(ws) - 1),
        |          i -> array_to_string(ws[i:i+2], ' '))) AS g
        |      FROM w WHERE len(ws) >= 3),
        |p AS (SELECT source, doc_id, count(*) AS n3, count(DISTINCT g) AS d3
        |      FROM g GROUP BY 1, 2)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |CAST(sum(n3) AS BIGINT) AS total_ngrams,
        |CAST(sum(n3 - d3) AS BIGINT) AS dup_ngrams,
        |CAST(sum(CASE WHEN (n3 - d3) * 1000000 >= n3 * 200000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_flagged,
        |CAST(sum(n3 - d3) * 1000000 // sum(n3) AS BIGINT) AS dup_rate_u
        |FROM p GROUP BY 1""".stripMargin) { (s, dir) =>
      val g = Par.widen(
          t(s, dir, "documents").select(col("source"), col("doc_id"), col("text")))
        .select(col("source"), col("doc_id"),
          explode(Text.shingles(col("text"), 3)).as("g"))
      g.groupBy(col("source"), col("doc_id"))
        .agg(count(lit(1)).as("n3"), countDistinct(col("g")).as("d3"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n3")).as("total_ngrams"),
          sum(col("n3") - col("d3")).as("dup_ngrams"),
          sum(when((col("n3") - col("d3")) * lit(1000000L) >=
            col("n3") * lit(200000L), 1L).otherwise(0L)).as("n_flagged"))
        .withColumn("dup_rate_u", expr("dup_ngrams * 1000000L DIV total_ngrams"))
        .select(col("source"), col("n_docs"), col("total_ngrams"),
          col("dup_ngrams"), col("n_flagged"), col("dup_rate_u"))
  }

  // ---- curation: CROSS-SPLIT LEAKAGE — for each held-out split of the
  //      q294 manifest, how many docs share an 8-gram with train (the
  //      split-integrity audit; distinct from q292, which decontaminates
  //      against an EXTERNAL probe set). Both sides collapse to distinct
  //      (doc, shingle) before the shingle-keyed equi-join, so the join
  //      never sees per-doc repeats; train moves as a distinct
  //      shingle-only column ----
  Q("q302_split_leakage", oracle =
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'cc'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) < 'e6'
        |         THEN 'val' ELSE 'test' END AS split,
        |  string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |g AS (SELECT split, doc_id,
        |        unnest(list_distinct(list_transform(range(1, len(ws) - 6),
        |          i -> array_to_string(ws[i:i+7], ' ')))) AS g
        |      FROM d WHERE len(ws) >= 8),
        |tg AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
        |ev AS (SELECT split, doc_id FROM d WHERE split <> 'train'),
        |evg AS (SELECT split, doc_id, g FROM g WHERE split <> 'train'),
        |lk AS (SELECT DISTINCT e.split, e.doc_id FROM evg e JOIN tg USING (g)),
        |wc AS (SELECT split, count(DISTINCT doc_id) AS n_with_shingles
        |       FROM evg GROUP BY 1),
        |tot AS (SELECT split, count(*) AS n_docs FROM ev GROUP BY 1),
        |lc AS (SELECT split, count(*) AS n_leaked FROM lk GROUP BY 1)
        |SELECT t.split, CAST(t.n_docs AS BIGINT) AS n_docs,
        |CAST(coalesce(w.n_with_shingles, 0) AS BIGINT) AS n_with_shingles,
        |CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
        |CAST(coalesce(l.n_leaked, 0) * 1000000 // t.n_docs AS BIGINT) AS leak_rate_u
        |FROM tot t LEFT JOIN wc w USING (split) LEFT JOIN lc l USING (split)""".stripMargin) { (s, dir) =>
      val sp = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(sp < "cc", "train").when(sp < "e6", "val").otherwise("test")
          .as("split"),
        col("text"))
      def pairsOf(side: org.apache.spark.sql.DataFrame) =
        Par.widen(side)
          .select(col("split"), col("doc_id"),
            explode(array_distinct(Text.shingles(col("text"), 8))).as("g"))
      val trainG = pairsOf(docs.where(col("split") === "train"))
        .select(col("g")).distinct()
      val evalPairs = pairsOf(docs.where(col("split") =!= "train"))
      val leaked = evalPairs.join(trainG, Seq("g"))
        .select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
      val withSh = evalPairs.select(col("split"), col("doc_id")).distinct()
        .groupBy(col("split")).agg(count(lit(1)).as("n_with_shingles"))
      docs.where(col("split") =!= "train")
        .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(withSh, Seq("split"), "left")
        .join(leaked, Seq("split"), "left")
        .na.fill(0L, Seq("n_with_shingles", "n_leaked"))
        .withColumn("leak_rate_u", expr("n_leaked * 1000000L DIV n_docs"))
  }

  // ---- data-card: BAG-OF-WORDS DUP-CLUSTER HISTOGRAM — how duplicated
  //      is the corpus under the vocabulary-identity key (sorted
  //      distinct token set — catches shuffled boilerplate exact dedup
  //      misses), in power-of-2 cluster-size buckets (1 = unique): the
  //      shape that decides whether dedup recovers most of the budget.
  //      The histogram input is cluster-cardinality, never corpus rows ----
  Q("q303_bow_cluster_hist", oracle =
      """WITH c AS (SELECT
        |  md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp,
        |  count(*) AS n_dups FROM documents GROUP BY 1)
        |SELECT CAST(length(bin(n_dups)) AS BIGINT) AS bucket,
        |count(*)::BIGINT AS n_clusters,
        |CAST(sum(n_dups) AS BIGINT) AS n_docs,
        |CAST(sum(n_dups - 1) AS BIGINT) AS n_removable
        |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy(Text.vocabFingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("n_dups"))
        .withColumn("bucket", length(bin(col("n_dups"))).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_dups")).as("n_docs"),
          sum(col("n_dups") - 1L).as("n_removable"))
  }

  // ---- data-card: CROSS-SOURCE DUPLICATION MATRIX — which feeds copy
  //      each other: for every source pair, how many cross-source doc
  //      pairs share a bag-of-words fingerprint. Computed from
  //      per-(fp,source) COUNTS (cᵢ·cⱼ per shared fingerprint,
  //      cᵢ·(cᵢ−1)/2 on the diagonal) — fingerprint-cardinality all the
  //      way, never doc-level pairs, so hot clusters cost counts not
  //      squares ----
  Q("q304_source_dup_matrix", oracle =
      """WITH fs AS (SELECT
        |  md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS fp,
        |  source, count(*) AS c FROM documents GROUP BY 1, 2)
        |SELECT a.source AS src1, b.source AS src2,
        |CAST(sum(CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
        |              ELSE a.c * b.c END) AS BIGINT) AS dup_pairs,
        |count(*)::BIGINT AS shared_fps
        |FROM fs a JOIN fs b ON a.fp = b.fp AND a.source <= b.source
        |GROUP BY 1, 2
        |HAVING sum(CASE WHEN a.source = b.source THEN a.c * (a.c - 1) // 2
        |           ELSE a.c * b.c END) > 0""".stripMargin) { (s, dir) =>
      val fs = t(s, dir, "documents")
        .groupBy(Text.vocabFingerprint(col("text")).as("fp"), col("source"))
        .agg(count(lit(1)).as("c"))
      val a = fs.select(col("fp"), col("source").as("src1"), col("c").as("c1"))
      val b = fs.select(col("fp"), col("source").as("src2"), col("c").as("c2"))
      a.join(b, Seq("fp"))
        .where(col("src1") <= col("src2"))
        .withColumn("pairs",
          when(col("src1") === col("src2"), expr("c1 * (c1 - 1) DIV 2"))
            .otherwise(col("c1") * col("c2")).cast("long"))
        .groupBy(col("src1"), col("src2"))
        .agg(sum(col("pairs")).as("dup_pairs"),
          count(lit(1)).as("shared_fps"))
        .where(col("dup_pairs") > 0L)
  }

  // ---- packing planning: token-LENGTH HISTOGRAM in power-of-2 buckets
  //      per source — sizes context-window packing (q96/q169) before
  //      running it; bucket = bit-length - 1, exact integers on both
  //      engines (no float log2 whose floor can flip at 2^k) ----
  Q("q274_length_histogram", oracle =
      """WITH d AS (SELECT source,
        |    greatest(len(list_filter(string_split(trim(text), ' '), g -> g <> '')), 0)::BIGINT AS n
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN n <= 0 THEN -1 ELSE length(bin(n)) - 1 END::BIGINT AS bucket_log2,
        |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tokens
        |FROM d GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      // greatest(size, 0): size() of a NULL array is -1, which would land a
      // null-text doc in the -1 bucket AND subtract 1 from sum(tokens),
      // silently diverging from the oracle's NULL propagation
      t(s, dir, "documents")
        .select(col("source"),
          greatest(size(filter(Text.tokens(col("text")), g => g =!= "")), lit(0))
            .cast("long").as("__n"))
        .withColumn("bucket_log2",
          when(col("__n") <= 0, lit(-1L)).otherwise(length(bin(col("__n"))).cast("long") - 1))
        .groupBy(col("source"), col("bucket_log2"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("tokens"))
  }

  // ---- corpus analysis: VOCABULARY GROWTH (Heaps-law panel) — distinct
  //      terms after 25/50/75/100% of each source's docs in id order;
  //      saturation = more data adds volume, not diversity ----
  Q("q270_vocab_growth", oracle =
      """WITH r AS (SELECT source, doc_id,
        |       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |     FROM documents),
        |n AS (SELECT source, count(*)::BIGINT AS nd FROM documents GROUP BY 1),
        |tok AS (SELECT source, doc_id, unnest(string_split(trim(text), ' ')) AS g
        |        FROM documents),
        |fo AS (SELECT source, g, min(doc_id) AS fid FROM tok WHERE g <> '' GROUP BY 1, 2),
        |fr AS (SELECT fo.source, r.rk FROM fo
        |       JOIN r ON fo.source = r.source AND fo.fid = r.doc_id),
        |qs AS (SELECT unnest(range(1, 5)) AS q),
        |thr AS (SELECT n.source, qs.q, (n.nd * qs.q + 3) // 4 AS k FROM n, qs)
        |SELECT thr.source, thr.q AS quartile, thr.k AS docs_seen,
        |  count(*) AS vocab
        |FROM thr JOIN fr ON fr.source = thr.source AND fr.rk <= thr.k
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      Text.vocabGrowth(t(s, dir, "documents"), "source", "doc_id", "text")
  }

  // ---- corpus analysis: DISTINCT-n diversity per source (Li et al.
  //      2016) — the template/boilerplate smell exact dedup passes;
  //      bigrams stay within documents, ratios exact-integer ppm ----
  Q("q267_distinct_ngram_diversity", oracle =
      """WITH u AS (SELECT source, unnest(string_split(trim(text), ' ')) AS g FROM documents),
        |uf AS (SELECT source, g FROM u WHERE g <> ''),
        |agg1 AS (SELECT source, count(*) AS n1_total, count(DISTINCT g) AS n1_distinct
        |         FROM uf GROUP BY 1),
        |w AS (SELECT source, string_split(trim(text), ' ') AS w FROM documents),
        |bl AS (SELECT source, list_transform(range(1, len(w)),
        |        i -> w[i] || ' ' || w[i+1]) AS bs FROM w WHERE len(w) >= 2),
        |b AS (SELECT source, unnest(bs) AS g FROM bl),
        |agg2 AS (SELECT source, count(*) AS n2_total, count(DISTINCT g) AS n2_distinct
        |         FROM b GROUP BY 1)
        |SELECT a.source, n1_total, n1_distinct,
        |  n1_distinct * 1000000 // n1_total AS distinct1_ppm,
        |  coalesce(n2_total, 0) AS n2_total, coalesce(n2_distinct, 0) AS n2_distinct,
        |  coalesce(n2_distinct * 1000000 // n2_total, -1) AS distinct2_ppm
        |FROM agg1 a LEFT JOIN agg2 USING (source)""".stripMargin) { (s, dir) =>
      Text.distinctNgramDiversity(t(s, dir, "documents"), "source", "text")
  }

  // ---- data-card: ZIPF SLOPE per source — rank-frequency log-log OLS
  //      over the top-100 terms (≈ −1 for natural text; flat = the
  //      boilerplate smell, steep = collapsed vocabulary). Micro-unit
  //      integer logs make the OLS sums order-free; one exact ratio ----
  Q("q278_zipf_slope", oracle =
      // q278: micro-unit logs rounded once per term → order-free integer OLS
      // sums; the slope ratio is one double division (engine-exact)
      """WITH tok AS (SELECT source AS g,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |tf AS (SELECT g, t, count(*)::BIGINT AS cf FROM tok GROUP BY 1, 2),
        |rk AS (SELECT g, t, cf,
        |    row_number() OVER (PARTITION BY g ORDER BY cf DESC, t ASC)::BIGINT AS r
        |  FROM tf),
        |xy AS (SELECT g, round(ln(r::DOUBLE) * 1e6)::BIGINT AS x,
        |    round(ln(cf::DOUBLE) * 1e6)::BIGINT AS y
        |  FROM rk WHERE r <= 100),
        |s AS (SELECT g, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
        |    sum(x * x)::BIGINT AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT g AS source, n AS n_terms,
        |  round(((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE) * 1e6)::BIGINT
        |    AS slope_u
        |FROM s ORDER BY source""".stripMargin) { (s, dir) =>
      Text.zipfSlope(t(s, dir, "documents"), "source", "text")
  }

  // ---- data-card: TERM BURSTINESS per source (Church & Gale) — mean
  //      occurrences per containing doc cf/df for the top-20 terms;
  //      bunching terms (high burst) mark topical/boilerplate text,
  //      function words sit at their corpus rate. Exact-integer ppm ----
  Q("q279_burstiness", oracle =
      """WITH tok AS (SELECT source AS g, doc_id AS id,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |st AS (SELECT g, t, count(*)::BIGINT AS cf,
        |    count(DISTINCT id)::BIGINT AS df FROM tok GROUP BY 1, 2),
        |rk AS (SELECT g, t, cf, df,
        |    row_number() OVER (PARTITION BY g ORDER BY cf DESC, t ASC)::BIGINT AS rank
        |  FROM st)
        |SELECT g AS source, rank, t AS term, cf, df,
        |  cf * 1000000 // df AS burst_ppm
        |FROM rk WHERE rank <= 20""".stripMargin) { (s, dir) =>
      Text.burstiness(t(s, dir, "documents"), "source", "doc_id", "text")
  }

  // ---- data-card: SOURCE-SIMILARITY matrix — cosine between per-source
  //      unigram COUNT vectors, the weighted companion of q57-family
  //      vocab overlap (set Jaccard); integer dot/norm sums, one
  //      correctly-rounded cosine division ----
  Q("q280_source_cosine", oracle =
      // q280: integer dot/norms; sqrt is IEEE-correctly-rounded on both
      // engines, so the single cosine division is engine-exact
      """WITH tok AS (SELECT source AS s,
        |    unnest(list_filter(string_split(trim(text), ' '), x -> x <> '')) AS t
        |  FROM documents),
        |tf AS (SELECT s, t, count(*)::BIGINT AS cf FROM tok GROUP BY 1, 2),
        |nrm AS (SELECT s, sum(cf * cf)::BIGINT AS nrm2 FROM tf GROUP BY 1),
        |dots AS (SELECT a.s AS src1, b.s AS src2, sum(a.cf * b.cf)::BIGINT AS dot
        |  FROM tf a JOIN tf b ON a.t = b.t AND a.s < b.s GROUP BY 1, 2)
        |SELECT src1, src2, dot,
        |  round((dot::DOUBLE / (sqrt(n1.nrm2::DOUBLE) * sqrt(n2.nrm2::DOUBLE))) * 1e6)::BIGINT
        |    AS cosine_u
        |FROM dots JOIN nrm n1 ON n1.s = src1 JOIN nrm n2 ON n2.s = src2
        |ORDER BY src1, src2""".stripMargin) { (s, dir) =>
      Text.sourceCosine(t(s, dir, "documents"), "source", "text")
  }

  // ---- curation: SPLIT MANIFEST — deterministic md5 train/val/test
  //      assignment (≈80/10/10 via hex-prefix thresholds, salted so the
  //      split is independent of every other md5 sampler in the repo),
  //      docs + tokens per (source, split): the artifact a reproducible
  //      dataset release ships alongside the data ----
  Q("q294_split_manifest", oracle =
      """WITH d AS (SELECT source,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS BIGINT) AS n_tok,
        |  substring(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2) AS sp
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN sp < 'cc' THEN 'train' WHEN sp < 'e6' THEN 'val' ELSE 'test' END AS split,
        |  count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM d GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val sp = substring(md5(concat(col("doc_id").cast("string"), lit(":split"))), 1, 2)
      t(s, dir, "documents")
        .select(col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"),
          when(sp < "cc", "train").when(sp < "e6", "val").otherwise("test")
            .as("split"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
  }

  // ---- curation: QUALITY DECILE panel per source — docs and tokens in
  //      each quality-score decile (micro-unit integer buckets): where
  //      would a quality threshold actually cut, per feed ----
  Q("q293_quality_deciles", oracle =
      // q293: q169's quality CTE with source carried through, decile-bucketed
      """WITH toks AS (SELECT doc_id, source, trim(text) AS t,
        |  CASE WHEN length(trim(text))=0 THEN 0
        |       ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS n_tok,
        |  string_split(trim(text), ' ') AS ws
        |  FROM documents),
        |q AS (SELECT source, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(round(round(least(n_tok/50.0, 1.0)*0.4 +
        |    (CASE WHEN length(t)::DOUBLE/n_tok >= 3 AND length(t)::DOUBLE/n_tok <= 10
        |          THEN 1.0 ELSE 0.5 END)*0.3 +
        |    (len(list_distinct(ws))::DOUBLE/n_tok)*0.3, 6) * 1000000) AS BIGINT) AS qu
        |  FROM toks WHERE n_tok > 0)
        |SELECT source, least(qu * 10 // 1000000, 9) AS decile,
        |  count(*)::BIGINT AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM q GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          Text.tokenCount(col("text")).cast("long").as("n_tok"),
          round(Text.qualityScore(col("text")) * 1e6).cast("long").as("qu"))
        .where(col("n_tok") > 0) // token-free docs have no quality score
        .withColumn("decile", least(expr("qu * 10 DIV 1000000"), lit(9L)))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tokens"))
  }

  // ---- data-card: NOVELTY CURVE — per hash-ordered corpus chunk (md5
  //      first hex digit = 16 pseudo-stream chunks), distinct bigrams
  //      seen vs bigrams FIRST seen in that chunk: the dataset-saturation
  //      panel ("is more data still adding anything") next to Heaps' law
  //      (q270). All-integer; no global window — two grouped aggs ----
  Q("q287_novelty_curve", oracle =
      // q287: md5-prefix pseudo-chunks; bigrams via the q267 list_transform
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |bl AS (SELECT substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS chunk,
        |         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bs
        |       FROM w WHERE len(w) >= 2),
        |bg AS (SELECT chunk, unnest(bs) AS g FROM bl),
        |pc AS (SELECT chunk, count(DISTINCT g)::BIGINT AS distinct_in_chunk
        |       FROM bg GROUP BY 1),
        |fs AS (SELECT g, min(chunk) AS chunk FROM bg GROUP BY 1),
        |nw AS (SELECT chunk, count(*)::BIGINT AS new_ngrams FROM fs GROUP BY 1)
        |SELECT pc.chunk, pc.distinct_in_chunk,
        |  coalesce(nw.new_ngrams, 0)::BIGINT AS new_ngrams,
        |  coalesce(nw.new_ngrams, 0) * 1000000 // pc.distinct_in_chunk AS novelty_ppm
        |FROM pc LEFT JOIN nw ON pc.chunk = nw.chunk""".stripMargin) { (s, dir) =>
      // ONE linear pipeline (r18, guide §1.2/§2.4): group the occurrence
      // stream by n-gram into its (bounded, ≤16 — chunk is one hex char)
      // chunk set, then explode that set with a first-seen flag and
      // aggregate per chunk ONCE. Identical result to the r17 shape
      // (distinct pairs → checkpoint → census + first-seen aggs → join):
      // distinct_in_chunk = |set rows per chunk|, new_ngrams = #grams whose
      // min chunk is this chunk (array_min ≡ min over the distinct pairs;
      // a sum over when() is never null, matching the old coalesce(...,0)).
      // Drops the eager checkpoint materialization (~2.0 s of q287's 2.4 s
      // at sf0.1), the join, and two of four shuffles.
      t(s, dir, "documents")
        .select(substring(md5(col("doc_id").cast("string")), 1, 1).as("chunk"),
          explode(Text.shingles(col("text"), 2)).as("g"))
        .groupBy(col("g")).agg(collect_set(col("chunk")).as("cs"))
        .select(explode(col("cs")).as("chunk"), array_min(col("cs")).as("first"))
        .groupBy(col("chunk"))
        .agg(count(lit(1)).as("distinct_in_chunk"),
          sum(when(col("chunk") === col("first"), 1L).otherwise(0L)).as("new_ngrams"))
        .select(col("chunk"), col("distinct_in_chunk"), col("new_ngrams"),
          expr("new_ngrams * 1000000 DIV distinct_in_chunk").as("novelty_ppm"))
  }

  // ---- data-card: PII CENSUS per source — doc and hit counts by PII
  //      type (email/IP/phone) over q140's scrubber patterns, with an
  //      injected fixture on every third doc so the census has signal;
  //      the redaction-planning panel run before a scrub pass ----
  Q("q286_pii_census", oracle =
      // q286: q140's regex patterns, conditional fixture, per-source census
      """WITH d AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      trim(text) || ' contact user' || doc_id || '@example.com ip 10.'
        |      || (doc_id % 256) || '.0.1 call +1415' || (doc_id + 1000000)
        |    ELSE trim(text) END AS t
        |  FROM documents),
        |p AS (SELECT doc_id, source,
        |    len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |    len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
        |    len(regexp_extract_all(t, '\+\d{7,15}'))::BIGINT AS n_phone
        |  FROM d)
        |SELECT source, count(*)::BIGINT AS n_docs,
        |  CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        |  CAST(sum(n_email) AS BIGINT) AS emails,
        |  CAST(sum(n_ip) AS BIGINT) AS ips,
        |  CAST(sum(n_phone) AS BIGINT) AS phones,
        |  CAST(sum(CASE WHEN n_email + n_ip + n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS pii_doc_ppm
        |FROM p GROUP BY 1""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
        when(col("doc_id") % 3 === 0,
          concat(trim(col("text")), lit(" contact user"), col("doc_id"),
            lit("@example.com ip 10."), col("doc_id") % 256,
            lit(".0.1 call +1415"), col("doc_id") + 1000000))
          .otherwise(trim(col("text"))).as("text"))
      val p = Text.scrubPii(d, "doc_id", "text")
      d.select(col("doc_id"), col("source")).join(p, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_ip") + col("n_phone") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(col("n_email")).as("emails"),
          sum(col("n_ip")).as("ips"),
          sum(col("n_phone")).as("phones"))
        .withColumn("pii_doc_ppm", expr("docs_with_pii * 1000000 DIV n_docs"))
  }

  // ---- curation: unigram-LM quality score (perplexity proxy, corpus as
  //      LM); fixed-point NLL accumulation keeps it order-free and
  //      hash-exact ----
  Q("q119_unigram_nll", oracle =
      """WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |c AS (SELECT t, count(*) AS n_t FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n_total FROM tok),
        |s AS (SELECT doc_id, CAST(round(-ln(c.n_t / n.n_total) * 1e6) AS BIGINT) AS nll
        |      FROM tok JOIN c USING (t) CROSS JOIN n)
        |SELECT doc_id, count(*) AS n_tok,
        |round(sum(nll) / 1e6 / count(*), 4) AS avg_nll
        |FROM s GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Text.unigramNll(t(s, dir, "documents"), "doc_id", "text")
  }

  // ---- pipeline: context-window chunking (64-token chunks, 16 overlap);
  //      chunk text verified by md5 against the SQL slicing oracle ----
  Q("q110_chunk_docs", oracle =
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws, len(ws) AS n,
        |  CASE WHEN len(ws) <= 64 THEN 1
        |       ELSE 1 + CAST(ceil((len(ws) - 64)::DOUBLE / 48) AS BIGINT) END AS nch
        |  FROM w),
        |c AS (SELECT doc_id,
        |  unnest(range(0, nch)) AS chunk_idx,
        |  unnest(list_transform(range(0, nch),
        |    i -> array_to_string(ws[i*48+1 : least(i*48+64, n)], ' '))) AS txt
        |  FROM n)
        |SELECT doc_id, chunk_idx, md5(txt) AS chunk_md5 FROM c""".stripMargin) { (s, dir) =>
      Text.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          md5(col("chunk")).as("chunk_md5"))
  }

  // ---- pipeline: repetition quality filter (per-doc most-repeated
  //      bigram; explode → partial-agg count → per-doc top-1) ----
  Q("q102_repetition", oracle =
      """WITH w AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  unnest(CASE WHEN len(ws) < 2 THEN []
        |    ELSE list_transform(range(1, len(ws)), i -> array_to_string(ws[i:i+1], ' '))
        |  END) AS gram FROM w),
        |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
        |r AS (SELECT doc_id, gram, c,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
        |  FROM c)
        |SELECT doc_id, gram AS top_gram, c AS n_rep FROM r WHERE rn = 1""".stripMargin) { (s, dir) =>
      Text.topNgramRepetition(t(s, dir, "documents"), "doc_id", "text", n = 2)
  }

  // ---- text: pairwise source vocabulary Jaccard — distinct (source,
  //      token) domain checkpointed once, token-keyed intersection join
  //      (fan-out ≤ #sources²), broadcast size joins, integer ppm ----
  Q("q211_vocab_overlap", oracle =
      """WITH v AS (SELECT DISTINCT source AS s, t FROM (
        |    SELECT source, unnest(string_split(trim(text), ' ')) AS t
        |    FROM documents) WHERE t <> ''),
        |sz AS (SELECT s, CAST(count(*) AS BIGINT) AS sz FROM v GROUP BY 1),
        |i AS (SELECT a.s AS src1, b.s AS src2, CAST(count(*) AS BIGINT) AS inter
        |  FROM v a JOIN v b ON a.t = b.t AND a.s < b.s GROUP BY 1, 2)
        |SELECT i.src1, i.src2, i.inter, s1.sz AS sz1, s2.sz AS sz2,
        |  i.inter * 1000000 // (s1.sz + s2.sz - i.inter) AS jaccard_ppm
        |FROM i JOIN sz s1 ON i.src1 = s1.s JOIN sz s2 ON i.src2 = s2.s""".stripMargin) { (s, dir) =>
      graft.functions.Text.vocabOverlap(t(s, dir, "documents"),
        "source", "text")
  }

  // ---- stats: Spearman rank correlation (chars vs tokens) — Pearson
  //      over exact ×2 midranks from per-column value domains; two
  //      domain-keyed joins, decimal128 sufficient sums, ONE rounded ρ ----
  Q("q216_spearman", oracle =
      """WITH b AS (SELECT n_chars AS x,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
        |    END AS y FROM documents),
        |dx AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |mx AS (SELECT x, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY x
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    + cnt + 1 AS mrx FROM dx),
        |dy AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
        |my AS (SELECT y, 2 * CAST(coalesce(sum(cnt) OVER (ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    + cnt + 1 AS mry FROM dy),
        |j AS (SELECT mx.mrx, my.mry FROM b
        |  JOIN mx ON b.x = mx.x JOIN my ON b.y = my.y),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(mrx AS HUGEINT)) AS HUGEINT) AS sx,
        |    CAST(sum(CAST(mry AS HUGEINT)) AS HUGEINT) AS sy,
        |    CAST(sum(CAST(mrx AS HUGEINT) * mry) AS HUGEINT) AS sxy,
        |    CAST(sum(CAST(mrx AS HUGEINT) * mrx) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(mry AS HUGEINT) * mry) AS HUGEINT) AS syy
        |  FROM j)
        |SELECT n,
        |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
        |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |         * CAST(n * syy - sy * sy AS DOUBLE)), 6)
        |  END AS rho
        |FROM a""".stripMargin) { (s, dir) =>
      Stats.spearmanCorr(t(s, dir, "documents"),
        col("n_chars"), Text.tokenCount(col("text")))
  }

  // ---- retrieval: reciprocal-rank fusion of two document rankings
  //      (longest-first vs most-tokens-first) — global ranks ride the
  //      OrderedScan stitch over ONE encoded (desc metric, asc id) key;
  //      integer 10⁶ DIV (60+r) contributions, TakeOrdered top-20 ----
  Q("q217_rank_fusion", oracle =
      """WITH ra AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS r FROM documents),
        |tk AS (SELECT doc_id,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
        |    END AS n_tok FROM documents),
        |rb AS (SELECT doc_id, CAST(row_number() OVER
        |    (ORDER BY n_tok DESC, doc_id) AS BIGINT) AS r FROM tk),
        |f AS (SELECT coalesce(ra.doc_id, rb.doc_id) AS doc_id,
        |    ra.r AS rank_a, rb.r AS rank_b,
        |    coalesce(1000000 // (60 + ra.r), 0)
        |      + coalesce(1000000 // (60 + rb.r), 0) AS rrf_u
        |  FROM ra FULL OUTER JOIN rb ON ra.doc_id = rb.doc_id)
        |SELECT doc_id, rank_a, rank_b, rrf_u FROM f
        |ORDER BY rrf_u DESC, doc_id LIMIT 20""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents")
      // (BIG − metric)·SHIFT + id: ascending key order == (metric desc,
      // id asc); metric < 10⁷ and id < 10⁸ keep the key inside int64
      val enc = (m: Column) =>
        (lit(10000000L) - m.cast("long")) * 100000000L + col("doc_id")
      // the two ranking ladders are independent and each runs eager
      // cut-sampling jobs at construction — build them concurrently so the
      // scheduler overlaps their stages (the q179 discipline)
      val rank = (metric: Column) =>
        OrderedScan.rowNumber(d.select(col("doc_id"), enc(metric).as("__k")), "__k", "__r")
          .select(col("doc_id"), (col("__r") + 1L).as("rank"))
      val (ra, rb) = Par.both(rank(col("n_chars")), rank(Text.tokenCount(col("text"))))
      Similarity.rrfFuse(ra, rb, "doc_id", "rank", k = 60, topN = 20)
  }

  // ---- text: pairwise KL drift between per-source unigram LMs —
  //      add-one smoothing over the corpus vocabulary, one nano-rounded
  //      double per present (pair, token), absent-both tokens in closed
  //      form; the distribution-shift panel beside q211's set overlap ----
  Q("q226_kl_drift", oracle =
      """WITH tok AS (SELECT source AS s, unnest(string_split(trim(text), ' ')) AS t
        |  FROM documents),
        |cnts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c FROM tok
        |  WHERE t <> '' GROUP BY 1, 2),
        |sz AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY 1),
        |vv AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v FROM cnts),
        |pairs AS (SELECT a.s AS p, a.n AS np, b.s AS q, b.n AS nq, vv.v
        |  FROM sz a CROSS JOIN sz b CROSS JOIN vv WHERE a.s <> b.s),
        |ta AS (SELECT pr.p, pr.q, c.t, c.c AS ca FROM pairs pr
        |  JOIN cnts c ON c.s = pr.p),
        |tb AS (SELECT pr.p, pr.q, c.t, c.c AS cb FROM pairs pr
        |  JOIN cnts c ON c.s = pr.q),
        |u AS (SELECT coalesce(ta.p, tb.p) AS p, coalesce(ta.q, tb.q) AS q,
        |    coalesce(ta.ca, 0) AS ca, coalesce(tb.cb, 0) AS cb
        |  FROM ta FULL OUTER JOIN tb
        |    ON ta.p = tb.p AND ta.q = tb.q AND ta.t = tb.t),
        |terms AS (SELECT u.p, u.q,
        |    CAST(round(((u.ca + 1) / CAST(pr.np + pr.v AS DOUBLE))
        |      * ln(((u.ca + 1) / CAST(pr.np + pr.v AS DOUBLE))
        |          / ((u.cb + 1) / CAST(pr.nq + pr.v AS DOUBLE))) * 1e9)
        |      AS BIGINT) AS nano
        |  FROM u JOIN pairs pr ON u.p = pr.p AND u.q = pr.q),
        |agg AS (SELECT p, q, CAST(sum(nano) AS BIGINT) AS s,
        |    CAST(count(*) AS BIGINT) AS npresent
        |  FROM terms GROUP BY 1, 2)
        |SELECT a.p AS src_p, a.q AS src_q,
        |  a.s + (pr.v - a.npresent) *
        |    CAST(round((1.0 / (pr.np + pr.v))
        |      * ln((1.0 / (pr.np + pr.v)) / (1.0 / (pr.nq + pr.v))) * 1e9)
        |      AS BIGINT) AS kl_nano
        |FROM agg a JOIN pairs pr ON a.p = pr.p AND a.q = pr.q
        |ORDER BY src_p, src_q""".stripMargin) { (s, dir) =>
      Text.klDrift(t(s, dir, "documents"), "source", "text")
  }

  // ---- stats: per-language weighted median of document length,
  //      weights = token counts — group-partitioned cumulative over the
  //      value domain, 2·cum ≥ total keeps halves exact-integer ----
  Q("q229_weighted_median", oracle =
      """WITH b AS (SELECT lang, n_chars AS v,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE length(trim(text)) - length(replace(trim(text), ' ', '')) + 1
        |    END AS w FROM documents),
        |d AS (SELECT lang, v, CAST(sum(w) AS BIGINT) AS w FROM b
        |  WHERE w > 0 GROUP BY 1, 2),
        |c AS (SELECT lang, v, w,
        |    CAST(sum(w) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cum
        |  FROM d),
        |t AS (SELECT lang, CAST(sum(w) AS BIGINT) AS w_total FROM d GROUP BY 1)
        |SELECT c.lang, CAST(min(c.v) AS BIGINT) AS w_median, t.w_total
        |FROM c JOIN t ON c.lang = t.lang
        |WHERE c.cum * 2 >= t.w_total
        |GROUP BY c.lang, t.w_total""".stripMargin) { (s, dir) =>
      Stats.weightedMedian(t(s, dir, "documents"),
        col("lang"), col("n_chars"), Text.tokenCount(col("text")))
        .withColumnRenamed("g", "lang")
  }

  // ---- text: per-source Shannon entropy of the unigram distribution —
  //      nano-fixed-point terms, order-free integer sum; the vocabulary-
  //      diversity canary beside q119's NLL quality score ----
  Q("q230_token_entropy", oracle =
      """WITH cnts AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT source AS s, unnest(string_split(trim(text), ' ')) AS t
        |    FROM documents) WHERE t <> '' GROUP BY 1, 2),
        |sz AS (SELECT s, CAST(sum(c) AS BIGINT) AS n FROM cnts GROUP BY 1)
        |SELECT cnts.s AS source, CAST(max(sz.n) AS BIGINT) AS n_tok,
        |  CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CAST(round(-(cnts.c / CAST(sz.n AS DOUBLE))
        |    * ln(cnts.c / CAST(sz.n AS DOUBLE)) * 1e9) AS BIGINT)) AS BIGINT)
        |    AS h_nano
        |FROM cnts JOIN sz ON cnts.s = sz.s GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      Text.tokenEntropy(t(s, dir, "documents"), "source", "text")
  }

  // ---- corpus analysis: DISTINCTIVE TERMS per source — Monroe et al.
  //      "Fightin' Words" log-odds with informative Dirichlet prior
  //      (corpus-proportional α); the characteristically-source-X
  //      vocabulary panel raw tf-idf gets wrong on rare noise ----
  Q("q260_distinctive_terms", oracle =
      // q260: the SQL mirrors the Spark expression tree operand-for-operand
      // (double arithmetic determinism; the q119/q163 single-round ln
      // convention)
      """WITH tok AS (SELECT source AS g, unnest(string_split(trim(text), ' ')) AS t
        |             FROM documents),
        |sw AS (SELECT g, t, CAST(count(*) AS BIGINT) AS ysw FROM tok GROUP BY 1, 2),
        |w AS (SELECT t, CAST(sum(ysw) AS BIGINT) AS yw FROM sw GROUP BY 1),
        |ns AS (SELECT g, CAST(sum(ysw) AS BIGINT) AS nsv FROM sw GROUP BY 1),
        |tot AS (SELECT CAST(sum(ysw) AS BIGINT) AS n FROM sw),
        |d AS (SELECT sw.g, sw.t,
        |  CAST(round((ln((sw.ysw + 1000.0 * w.yw / tot.n)
        |        / (ns.nsv + 1000.0 - sw.ysw - 1000.0 * w.yw / tot.n))
        |    - ln(((w.yw - sw.ysw) + 1000.0 * w.yw / tot.n)
        |        / ((tot.n - ns.nsv) + 1000.0 - (w.yw - sw.ysw) - 1000.0 * w.yw / tot.n)))
        |    * 1000000.0) AS BIGINT) AS delta_u
        |  FROM sw JOIN w USING (t) JOIN ns USING (g), tot),
        |r AS (SELECT g, t, delta_u,
        |      row_number() OVER (PARTITION BY g ORDER BY delta_u DESC, t) AS rk FROM d)
        |SELECT g AS source, CAST(rk AS BIGINT) AS rank, t AS term, delta_u
        |FROM r WHERE rk <= 5""".stripMargin) { (s, dir) =>
      Text.distinctiveTerms(t(s, dir, "documents"), "source", "text",
        alpha0 = 1000.0, topK = 5)
        .withColumnRenamed("g", "source")
  }
}
