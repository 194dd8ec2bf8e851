package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.KSeries

/** What the query families share: table access, the derived-table and
  * index names keyed by sf dir and source content, the daily series, and
  * the oracle SQL fragments several queries build on. Kept apart from
  * `SparkEntry` so the families and the contract never initialize each
  * other. */
private[graft] object QueryKit {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Cache-busting token for a source table: the parquet's length ^ mtime,
    * folded into every derived-copy name below. Existence-keyed caches
    * alone go STALE when the test data is regenerated in place;
    * content-keying the path makes a regenerated input land in a fresh
    * copy automatically. */
  def tableToken(s: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val st = p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    java.lang.Long.toHexString(st.getLen ^ st.getModificationTime)
  }

  /** Bucketed-table names are per-sf-dir (and per-content) so mixed-SF
    * sessions never collide and regenerated inputs never reuse stale
    * buckets. */
  def bucketedTableNames(s: SparkSession, dir: String): (String, String) = {
    val h = math.abs(dir.hashCode).toString.take(6)
    (s"graft_orders_b_${h}_${tableToken(s, dir, "orders")}",
      s"graft_customer_b_${h}_${tableToken(s, dir, "customer")}")
  }

  def partitionedEventsPath(s: SparkSession, dir: String): String =
    s"/tmp/graft_warehouse/graft_events_by_date_${math.abs(dir.hashCode).toString.take(6)}_${tableToken(s, dir, "events")}"

  // full md5 of the dir, not String.hashCode: a 32-bit collision between
  // two dirs sharing one warehouse would silently alias their index tables
  // (the _meta corpus_fp check would still catch it, but the name should
  // not collide in the first place)
  private def indexTable(family: String, dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))
    s"graft_${family}_idx_${d.map("%02x".format(_)).mkString}"
  }

  def lshIndexTable(dir: String): String = indexTable("lsh", dir)

  // the corpus identity recorded in the index _meta and re-asserted at
  // every ensure/probe: same table name + same hash family over a
  // DIFFERENT subset is the silent-wrong-corpus case only this catches
  def lshCorpusFp(dir: String): String = s"documents[doc_id%7!=0]@$dir"

  def ivfIndexTable(dir: String): String = indexTable("ivf", dir)
  def ivfCorpusFp(dir: String): String = s"embeddings@$dir"
  def pqIndexTable(dir: String): String = indexTable("pq", dir)

  /** Daily order totals — the ordered "time series" backing series ops. */
  def daily(s: SparkSession, dir: String): KSeries =
    KSeries(
      t(s, dir, "orders")
        .groupBy(to_date(col("o_orderdate")).as("k"))
        .agg(sum(col("o_totalprice")).as("v")),
      ordered = true)

  val dailySql =
    "WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS k, sum(o_totalprice) AS v FROM orders GROUP BY 1)"

  val tokSql =
    """toks AS (SELECT doc_id, trim(text) AS t,
      |CASE WHEN length(trim(text))=0 THEN 0
      |     ELSE length(trim(text)) - length(replace(trim(text),' ','')) + 1 END AS n_tok,
      |string_split(trim(text), ' ') AS ws
      |FROM documents)""".stripMargin

  /** Shared by q111 (one-shot composed IVF+PQ) and q310 (the stored
    * publish+probe form): deterministic training over the same corpus makes
    * the two paths row-identical by construction. */
  val ivfPqOracleSql: String =
    """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 8),
        |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
        |dist1 AS (SELECT f.vec_id, c0.c, sum((f.q - c0.cv)*(f.q - c0.cv)) AS dist
        |          FROM f JOIN cent0 c0 ON f.d = c0.d GROUP BY 1, 2),
        |asg1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist1) WHERE rn = 1),
        |upd1 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg1 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
        |dist2 AS (SELECT f.vec_id, c1.c, sum((f.q - c1.cv)*(f.q - c1.cv)) AS dist
        |          FROM f JOIN cent1 c1 ON f.d = c1.d GROUP BY 1, 2),
        |asg2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist2) WHERE rn = 1),
        |upd2 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg2 a JOIN f USING (vec_id) GROUP BY 1, 2),
        |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
        |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
        |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
        |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
        |asg3 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist3) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c FROM (
        |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 2),
        |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |               FROM probes p JOIN asg3 a USING (c)
        |               WHERE a.vec_id <> p.query_id),
        |fj AS (SELECT vec_id, d, d // 8 AS j, q FROM f),
        |pids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |         FROM embeddings ORDER BY vec_id LIMIT 16),
        |cb0 AS (SELECT fj.j, pids.c, fj.d, fj.q AS cv FROM pids JOIN fj USING (vec_id)),
        |d1 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb0 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a1 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d1) WHERE rn = 1),
        |u1 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a1 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb1 AS (SELECT b0.j, b0.c, b0.d, coalesce(u.cv, b0.cv) AS cv
        |        FROM cb0 b0 LEFT JOIN u1 u ON b0.j = u.j AND b0.c = u.c AND b0.d = u.d),
        |d2 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb1 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |a2 AS (SELECT vec_id, j, c FROM (
        |       SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |       FROM d2) WHERE rn = 1),
        |u2 AS (SELECT a.j, a.c, fj.d, CAST(floor(sum(fj.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |       FROM a2 a JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j GROUP BY 1, 2, 3),
        |cb2 AS (SELECT b1.j, b1.c, b1.d, coalesce(u.cv, b1.cv) AS cv
        |        FROM cb1 b1 LEFT JOIN u2 u ON b1.j = u.j AND b1.c = u.c AND b1.d = u.d),
        |d3 AS (SELECT fj.vec_id, fj.j, b.c, sum((fj.q - b.cv)*(fj.q - b.cv)) AS dist
        |       FROM fj JOIN cb2 b ON fj.d = b.d AND fj.j = b.j GROUP BY 1, 2, 3),
        |enc AS (SELECT vec_id, j, c FROM (
        |        SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |        FROM d3) WHERE rn = 1),
        |adc AS (SELECT cd.query_id, cd.neighbor_id,
        |        CAST(sum((q.q - b.cv)*(q.q - b.cv)) AS BIGINT) AS dist
        |        FROM candidates cd
        |        JOIN fj q ON q.vec_id = cd.query_id
        |        JOIN enc e ON e.vec_id = cd.neighbor_id AND e.j = q.j
        |        JOIN cb2 b ON b.j = q.j AND b.c = e.c AND b.d = q.d
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin

  /** Shared by q311 (PQ index append) and q312 (append + compact): the
    * one-shot IVF+PQ ladder with every TRAINING input (coarse-centroid
    * seeds + Lloyd iterations, PQ codebook seeds + iterations) restricted
    * to the initially-published partial corpus (vec_id % 5 != 0) while the
    * FINAL assignment, encode, and probe stay corpus-wide — exactly what
    * append-under-stored-models computes (the q264 discipline, PQ form).
    * Compaction rewrites files, never rows, so q312 shares it verbatim. */
  val ivfPqAppendOracleSql: String = Seq(
    // training-sample seeds draw only from the published partial corpus
    "FROM embeddings ORDER BY vec_id LIMIT 8" ->
      "FROM embeddings WHERE vec_id % 5 != 0 ORDER BY vec_id LIMIT 8",
    "FROM embeddings ORDER BY vec_id LIMIT 16" ->
      "FROM embeddings WHERE vec_id % 5 != 0 ORDER BY vec_id LIMIT 16",
    // A-restricted views of the quantized corpus for the training loops
    "AS q FROM embeddings)," ->
      "AS q FROM embeddings),\nfa AS (SELECT * FROM f WHERE vec_id % 5 != 0),",
    "AS j, q FROM f)," ->
      "AS j, q FROM f),\nfja AS (SELECT * FROM fj WHERE vec_id % 5 != 0),",
    // coarse Lloyd iterations train on A only (dist3 stays corpus-wide)
    "FROM f JOIN cent0 c0 ON f.d = c0.d" ->
      "FROM fa AS f JOIN cent0 c0 ON f.d = c0.d",
    "FROM f JOIN cent1 c1 ON f.d = c1.d" ->
      "FROM fa AS f JOIN cent1 c1 ON f.d = c1.d",
    "JOIN f USING (vec_id)" -> "JOIN fa AS f USING (vec_id)",
    // PQ codebook iterations train on A only (d3/enc stay corpus-wide)
    "FROM fj JOIN cb0 b" -> "FROM fja AS fj JOIN cb0 b",
    "FROM fj JOIN cb1 b" -> "FROM fja AS fj JOIN cb1 b",
    "JOIN fj ON a.vec_id = fj.vec_id AND a.j = fj.j" ->
      "JOIN fja AS fj ON a.vec_id = fj.vec_id AND a.j = fj.j"
  ).foldLeft(ivfPqOracleSql) { case (sql, (pattern, replacement)) =>
    // each rewrite must take effect — a silent no-op here would revert
    // q311/q312's oracle to full-corpus training and surface as a
    // confusing downstream hash mismatch instead of a loud init failure
    require(sql.contains(pattern),
      s"ivfPqAppendOracleSql: base ivfPqOracleSql drifted — rewrite " +
        s"pattern no longer matches: '$pattern'")
    sql.replace(pattern, replacement)
  }

  /** Shared by q266 (default candidate generation) and q295 (the
    * hot-bucket cap pinned low but non-triggering): byte-identical results
    * certify the capped path is pure plan machinery when no bucket
    * exceeds the cap. */
  val containmentOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
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
      |sc AS (SELECT c.id_a, c.id_b,
      |         len(list_intersect(a.tok, b.tok))::BIGINT AS inter,
      |         len(a.tok)::BIGINT AS na, len(b.tok)::BIGINT AS nb
      |       FROM cand c JOIN sets a ON c.id_a = a.doc_id
      |                   JOIN sets b ON c.id_b = b.doc_id),
      |u AS (SELECT id_a AS contained_id, id_b AS container_id,
      |        inter * 1000000 // na AS containment_ppm FROM sc
      |      UNION ALL
      |      SELECT id_b, id_a, inter * 1000000 // nb FROM sc)
      |SELECT contained_id, container_id, containment_ppm
      |FROM u WHERE containment_ppm >= 800000""".stripMargin

  // q262/q263 shared oracle: sampled-train IVF (training over the
  // md5-ranked 128-row sample, corpus-wide assignment + probe)
  val ivfSampledOracleSql: String =
    """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |smp AS (SELECT vec_id FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 128),
        |ft AS (SELECT f.* FROM f JOIN smp USING (vec_id)),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM smp ORDER BY vec_id LIMIT 8),
        |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
        |dist1 AS (SELECT ft.vec_id, c0.c, sum((ft.q - c0.cv)*(ft.q - c0.cv)) AS dist
        |          FROM ft JOIN cent0 c0 ON ft.d = c0.d GROUP BY 1, 2),
        |asg1 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist1) WHERE rn = 1),
        |upd1 AS (SELECT a.c, ft.d, CAST(floor(sum(ft.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg1 a JOIN ft USING (vec_id) GROUP BY 1, 2),
        |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
        |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
        |dist2 AS (SELECT ft.vec_id, c1.c, sum((ft.q - c1.cv)*(ft.q - c1.cv)) AS dist
        |          FROM ft JOIN cent1 c1 ON ft.d = c1.d GROUP BY 1, 2),
        |asg2 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist2) WHERE rn = 1),
        |upd2 AS (SELECT a.c, ft.d, CAST(floor(sum(ft.q)::DOUBLE / count(*)) AS BIGINT) AS cv
        |         FROM asg2 a JOIN ft USING (vec_id) GROUP BY 1, 2),
        |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
        |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
        |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
        |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
        |asg3 AS (SELECT vec_id, c FROM (
        |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |         FROM dist3) WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, c FROM (
        |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 2),
        |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
        |               FROM probes p JOIN asg3 a USING (c)
        |               WHERE a.vec_id <> p.query_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |sims AS (SELECT cd.query_id, cd.neighbor_id,
        |         sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cosine
        |         FROM candidates cd JOIN fl a ON a.vec_id = cd.query_id
        |                            JOIN fl b ON b.vec_id = cd.neighbor_id AND a.i = b.i
        |         GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        |      FROM sims)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin

  // q45's fixed-point IVF replay (quantize → 2 Lloyd rounds → probe 3 of 16
  // lists → exact-cosine rank), sans final projection: `r` holds the ranked
  // candidates. Shared by q45 (top-k rows) and q306 (recall vs brute).
  val ivfKnnOracleCtes: String =
    """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
      |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
      |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
      |        FROM embeddings ORDER BY vec_id LIMIT 16),
      |cent0 AS (SELECT ids.c, f.d, f.q AS cv FROM ids JOIN f USING (vec_id)),
      |dist1 AS (SELECT f.vec_id, c0.c, sum((f.q - c0.cv)*(f.q - c0.cv)) AS dist
      |          FROM f JOIN cent0 c0 ON f.d = c0.d GROUP BY 1, 2),
      |asg1 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |         FROM dist1) WHERE rn = 1),
      |upd1 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
      |         FROM asg1 a JOIN f USING (vec_id) GROUP BY 1, 2),
      |cent1 AS (SELECT c0.c, c0.d, coalesce(u.cv, c0.cv) AS cv
      |          FROM cent0 c0 LEFT JOIN upd1 u ON c0.c = u.c AND c0.d = u.d),
      |dist2 AS (SELECT f.vec_id, c1.c, sum((f.q - c1.cv)*(f.q - c1.cv)) AS dist
      |          FROM f JOIN cent1 c1 ON f.d = c1.d GROUP BY 1, 2),
      |asg2 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |         FROM dist2) WHERE rn = 1),
      |upd2 AS (SELECT a.c, f.d, CAST(floor(sum(f.q)::DOUBLE / count(*)) AS BIGINT) AS cv
      |         FROM asg2 a JOIN f USING (vec_id) GROUP BY 1, 2),
      |cent2 AS (SELECT c1.c, c1.d, coalesce(u.cv, c1.cv) AS cv
      |          FROM cent1 c1 LEFT JOIN upd2 u ON c1.c = u.c AND c1.d = u.d),
      |dist3 AS (SELECT f.vec_id, c2.c, sum((f.q - c2.cv)*(f.q - c2.cv)) AS dist
      |          FROM f JOIN cent2 c2 ON f.d = c2.d GROUP BY 1, 2),
      |asg3 AS (SELECT vec_id, c FROM (
      |         SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |         FROM dist3) WHERE rn = 1),
      |probes AS (SELECT vec_id AS query_id, c FROM (
      |           SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rn
      |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 3),
      |candidates AS (SELECT p.query_id, a.vec_id AS neighbor_id
      |               FROM probes p JOIN asg3 a USING (c)
      |               WHERE a.vec_id <> p.query_id),
      |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
      |       FROM embeddings),
      |sims AS (SELECT cd.query_id, cd.neighbor_id,
      |         sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cosine
      |         FROM candidates cd JOIN fl a ON a.vec_id = cd.query_id
      |                            JOIN fl b ON b.vec_id = cd.neighbor_id AND a.i = b.i
      |         GROUP BY 1, 2),
      |r AS (SELECT query_id, neighbor_id, cosine,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |      FROM sims)""".stripMargin

  // q97's contamination pairs — shared with q292's per-probe report
  val decontamOracleSql: String =
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
      |WHERE t.doc_id >= 10 AND p.doc_id < 10 AND len(t.sh) > 0 AND len(p.sh) > 0)
      |SELECT train_id, probe_id, round(ov, 6) AS overlap
      |FROM pairs WHERE ov >= 0.5""".stripMargin

  // q43's full simhash replay — shared with q288's radius census
  val simhashOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w
      |           FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS t FROM w),
      |h AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tok),
      |d AS (SELECT doc_id, p.p, strpos('0123456789abcdef', substr(hx, p.p + 1, 1)) - 1 AS dv
      |      FROM h, (SELECT unnest(range(0, 16)) AS p) p),
      |b AS (SELECT doc_id, d.p * 4 + j.j AS bit,
      |      CASE WHEN (dv >> j.j) & 1 = 1 THEN 1 ELSE -1 END AS c
      |      FROM d, (SELECT unnest(range(0, 4)) AS j) j),
      |bits AS (SELECT doc_id, bit, CASE WHEN sum(c) > 0 THEN 1 ELSE 0 END AS v
      |         FROM b GROUP BY 1, 2),
      |fpd AS (SELECT doc_id, bit // 4 AS p,
      |        CAST(sum(CASE WHEN v = 1 THEN 1 << (bit % 4) ELSE 0 END) AS INT) AS digit
      |        FROM bits GROUP BY 1, 2),
      |fph AS (SELECT doc_id, string_agg(substr('0123456789abcdef', digit + 1, 1), '' ORDER BY p) AS fph
      |        FROM fpd GROUP BY 1),
      |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fph AS ha, b.fph AS hb
      |       FROM fph a, fph b WHERE a.doc_id < b.doc_id),
      |ham AS (SELECT id_a, id_b, CAST(sum(bit_count(
      |        xor(strpos('0123456789abcdef', substr(ha, p.p + 1, 1)) - 1,
      |            strpos('0123456789abcdef', substr(hb, p.p + 1, 1)) - 1))) AS BIGINT) AS hamming
      |        FROM pr, (SELECT unnest(range(0, 16)) AS p) p GROUP BY 1, 2)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8""".stripMargin

  /** Shared replay for the IVF (q321) and PQ (q322) epoch censuses: both
    * families keep one assignment row per vector in `_assign`, so the
    * committed/orphan census is a pair of plain counts over the raw
    * embeddings table — family-independent by construction. */
  val annCensusOracleSql: String =
    """SELECT 'assign' AS tbl,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 != 0) AS BIGINT) AS rows_committed,
      |  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 5 = 0) AS BIGINT) AS rows_orphan,
      |  CAST(1 AS BIGINT) AS orphan_epochs,
      |  CAST(1 AS BIGINT) AS committed_epochs""".stripMargin

  /** Shared by q250 (batch probe of the stored LSH index) and q252 (the
    * same probe as per-micro-batch streaming foreachBatch) — both must
    * equal the direct delta computation recomputed here from raw text. */
  val lshProbeOracleSql: String =
    """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
      |shl AS (SELECT doc_id, list_transform(range(1, len(w)-1),
      |        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS shs
      |        FROM w WHERE len(w) >= 3),
      |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
      |seeds AS (SELECT unnest(range(0, 16)) AS s),
      |mh AS (SELECT doc_id, s, min(md5(s::VARCHAR || ':' || sh)) AS m
      |       FROM sh, seeds GROUP BY 1, 2),
      |bk AS (SELECT doc_id, s // 4 AS band, md5(string_agg(m, '|' ORDER BY s)) AS bk
      |       FROM mh GROUP BY 1, 2),
      |cand AS (SELECT DISTINCT a.doc_id AS incoming_id, b.doc_id AS corpus_id
      |         FROM bk a JOIN bk b ON a.band = b.band AND a.bk = b.bk
      |         WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 != 0),
      |sets AS (SELECT doc_id, list_distinct(shs) AS tok FROM shl)
      |SELECT c.incoming_id, c.corpus_id,
      |round(len(list_intersect(a.tok, b.tok))::DOUBLE
      |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))), 6) AS jaccard
      |FROM cand c JOIN sets a ON c.incoming_id = a.doc_id JOIN sets b ON c.corpus_id = b.doc_id
      |WHERE len(list_intersect(a.tok, b.tok))::DOUBLE
      |  / (len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok))) >= 0.5""".stripMargin

  val streamSessionsOracleSql: String =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |e AS (SELECT user_id, ts, value,
      |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts FROM events),
      |s AS (SELECT user_id, ts, value,
      |      sum(CASE WHEN pts IS NULL
      |               OR epoch_us(ts) - epoch_us(pts) >= 43200000000
      |          THEN 1 ELSE 0 END)
      |        OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      |      FROM e),
      |agg AS (SELECT user_id, sid, epoch_us(min(ts)) AS sess_start,
      |        epoch_us(max(ts)) + 43200000000 AS sess_end,
      |        count(*) AS n, round(sum(value), 4) AS total
      |        FROM s GROUP BY 1, 2)
      |SELECT CAST(sess_start AS BIGINT) AS sess_start,
      |       CAST(sess_end AS BIGINT) AS sess_end, user_id, n, total
      |FROM agg, m WHERE sess_end <= epoch_us(mx) - 3600000000""".stripMargin
}
