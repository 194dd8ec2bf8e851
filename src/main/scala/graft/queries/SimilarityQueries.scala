package graft
package queries

import org.apache.spark.sql.functions._

import graft.functions.{Vectors => V}
import graft.operators._
import graft.queries.QueryKit._

/** Similarity and stored indexes: brute-force and ANN k-NN (IVF, PQ,
  * IVF+PQ, RP-LSH), embedding analytics, and the stored LSH / IVF / PQ
  * index lifecycle (publish, append, compact, recover, torn-commit and
  * census checks). */
object SimilarityQueries extends QueryFamily {

  // ---- similarity: exact brute-force cosine top-k ----
  Q("q44_knn_brute", oracle =
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |flat AS (SELECT query_id, neighbor_id, unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
        |         FROM q, c WHERE neighbor_id <> query_id),
        |sims AS (SELECT query_id, neighbor_id,
        |         sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS cosine
        |         FROM flat GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, cosine,
        |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |      FROM sims)
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.bruteForceKnn(e, e.where(col("vec_id") < 5), "vec_id", "embedding", 3)
  }

  // ---- similarity: IVF-bucketed ANN at a WIDER index shape than q124
  //      (16 lists, 3 probes) — fixed-point k-means, so training and
  //      probe both hash-verify against the SQL oracle; the float
  //      ivfKnn production path keeps its spec coverage (PipelineSpec) ----
  Q("q45_knn_ivf", oracle =
      // q45: q124's integer-Lloyd IVF at the WIDE corner — 16 lists, 3 probes
      s"""$ivfKnnOracleCtes
        |SELECT query_id, rank, neighbor_id, round(cosine, 6) AS cosine
        |FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 3, rounds = 2)
  }

  // ---- embeddings: per-vector norms (HOF arithmetic on array cols) ----
  Q("q46_embed_norm", oracle =
      """WITH flat AS (SELECT vec_id, label, len(embedding) AS dim,
        |              unnest(embedding)::DOUBLE AS x FROM embeddings)
        |SELECT vec_id, any_value(label) AS label, any_value(dim) AS dim,
        |round(sqrt(sum(x*x)), 6) AS l2, round(sum(x*x), 6) AS self_dot
        |FROM flat GROUP BY vec_id""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(V.l2Norm(col("embedding")), 6).as("l2"),
        round(V.dot(col("embedding"), col("embedding")), 6).as("self_dot"))
  }

  // ---- dedup: embedding-cosine near-dup, exact all-pairs baseline ----
  Q("q65_embed_neardup", oracle =
      """WITH f AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x,
        |           generate_subscripts(embedding,1) AS i FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS c
        |      FROM f a JOIN f b ON a.i = b.i AND a.vec_id < b.vec_id
        |      GROUP BY 1,2)
        |SELECT id_a, id_b, round(c,6) AS cosine FROM p WHERE c >= 0.4""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDup(t(s, dir, "embeddings"), "vec_id", "embedding", 0.4)
  }

  // ---- dedup: embedding near-dup via random-hyperplane LSH (rows-only) ----
  // ---- dedup: random-projection LSH near-dup over embeddings at a
  //      DEEPER code shape than q123 (24 hyperplanes × 6 bands) —
  //      md5-integer hyperplanes + fixed-point projections make every
  //      sign an exact integer comparison, oracle-verified end-to-end;
  //      the gaussian-plane production path (embeddingNearDupLsh) keeps
  //      its spec coverage (ExtendedOpsSpec recall + no-collect tests) ----
  Q("q66_embed_neardup_lsh", oracle =
      // q66: q123's md5-hyperplane RP-LSH at the DEEP code shape — 24
      // hyperplanes in 6 bands of 4 (same 4-bit band keys)
      """WITH hp AS (
        |  SELECT h.h, d.d,
        |    4096*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 1, 1))-1)
        |  +  256*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 2, 1))-1)
        |  +   16*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 3, 1))-1)
        |  +      (strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 4, 1))-1)
        |  - 32768 AS r
        |  FROM (SELECT unnest(range(0, 24)) AS h) h, (SELECT unnest(range(0, 64)) AS d) d),
        |f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1048576) AS BIGINT) AS q FROM embeddings),
        |s AS (SELECT f.vec_id, hp.h, sum(f.q * hp.r) AS dot FROM f JOIN hp ON f.d = hp.d GROUP BY 1, 2),
        |buckets AS (SELECT vec_id, h // 4 AS band,
        |            CAST(sum(CASE WHEN dot > 0 THEN 1 << (h % 4) ELSE 0 END) AS BIGINT) AS bk
        |            FROM s GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.vec_id < b.vec_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |p AS (SELECT c.id_a, c.id_b,
        |      sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cos
        |      FROM cand c JOIN fl a ON a.vec_id = c.id_a JOIN fl b ON b.vec_id = c.id_b AND a.i = b.i
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4""".stripMargin) { (s, dir) =>
      Dedup.rpLshNearDupPortable(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nbits = 24, bands = 6, dim = 64)
  }

  // ---- multimodal: embedding extraction feeding ANN — INTEGER-vote
  //      hash projection + exact long-L2 ranking, so the whole
  //      media→embedding→KNN bridge replays in SQL (payloads are the
  //      docs' ASCII bytes, so ascii(substr(..)) reconstructs them);
  //      the float embed → cosine path stays spec-covered ----
  Q("q76_media_embed_knn", oracle =
      // q76: replay the integer-vote embedding from the docs' ASCII bytes
      // (b = codepoint = byte here), then exact integer L2 top-3
      """WITH ch AS (SELECT doc_id, text, unnest(range(0, length(text))) AS i FROM documents),
        |cb AS (SELECT doc_id, i, ascii(substr(text, CAST(i + 1 AS INT), 1)) AS b FROM ch),
        |e0 AS (SELECT doc_id, (b * 31 + i) % 16 AS j, sum(b - 127) AS v
        |       FROM cb GROUP BY 1, 2),
        |dims AS (SELECT d.doc_id, j.j FROM documents d,
        |         (SELECT unnest(range(0, 16)) AS j) j),
        |emb AS (SELECT dims.doc_id, dims.j, coalesce(e0.v, 0) AS v
        |        FROM dims LEFT JOIN e0 ON dims.doc_id = e0.doc_id AND dims.j = e0.j),
        |d AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |      CAST(sum((q.v - c.v)*(q.v - c.v)) AS BIGINT) AS dist
        |      FROM emb q JOIN emb c ON q.j = c.j
        |      WHERE q.doc_id < 3 AND c.doc_id <> q.doc_id
        |      GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM d)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      import s.implicits._
      val media = Multimodal.packMedia(t(s, dir, "documents"), "doc_id", "text")
        .as[Multimodal.MediaRow]
      val emb = Multimodal.embedQuantized(media, 16)
      Similarity.bruteForceKnnL2Long(emb, emb.where(col("doc_id") < 3), "doc_id", "embedding", 3)
  }

  // ---- similarity: IVF ANN at the NARROW-index corner (4 lists, single
  //      probe, top-5) — fixed-point k-means training hash-verified
  //      against the SQL oracle; the float kmeansCentroids +
  //      ivfKnnWithCentroids production path keeps its spec coverage
  //      (PipelineSpec recall) ----
  Q("q89_knn_ivf_kmeans", oracle =
      // q89: q124's integer-Lloyd IVF at the NARROW corner — 4 lists, 1 probe, top-5
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 4),
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
        |           FROM dist3 WHERE vec_id < 5) WHERE rn <= 1),
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
        |FROM r WHERE rank <= 5""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 1, rounds = 2)
  }

  // ---- embedding analytics at scale: fixed-point covariance sufficient
  //      statistics in ONE narrow treeAggregate pass (PCA precursor) —
  //      d(d+1)/2 longs to the driver, data never shuffles; integer
  //      sums are order-free and hash-exact vs the position-join oracle ----
  Q("q145_embed_covariance", oracle =
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS e
        |    FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |tok AS (SELECT vec_id, unnest(e) AS v, generate_subscripts(e, 1) - 1 AS i FROM q),
        |p AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.v * b.v) AS BIGINT) AS sxy
        |      FROM tok a JOIN tok b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY 1, 2),
        |s AS (SELECT i, CAST(sum(v) AS BIGINT) AS sx FROM tok GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM q)
        |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, p.sxy,
        |       sa.sx AS sx_i, sb.sx AS sx_j, n.n
        |FROM p JOIN s sa ON p.i = sa.i JOIN s sb ON p.j = sb.i CROSS JOIN n""".stripMargin) { (s, dir) =>
      Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding")
  }

  // ---- similarity: product quantization with FIXED-POINT subspace
  //      k-means + exact integer ADC distances — training and scan both
  //      hash-verified against the SQL oracle ----
  Q("q125_pq_portable", oracle =
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |fj AS (SELECT vec_id, d, d // 8 AS j, q FROM f),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 16),
        |cb0 AS (SELECT fj.j, ids.c, fj.d, fj.q AS cv FROM ids JOIN fj USING (vec_id)),
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
        |adc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        CAST(sum((q.q - b.cv)*(q.q - b.cv)) AS BIGINT) AS dist
        |        FROM fj q JOIN enc e ON e.vec_id <> q.vec_id AND e.j = q.j
        |                  JOIN cb2 b ON b.j = q.j AND b.c = e.c AND b.d = q.d
        |        WHERE q.vec_id < 5
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.pqKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, m = 8, codes = 16, rounds = 2)
  }

  // ---- similarity: IVF ANN with FIXED-POINT k-means — the entire index
  //      build (quantize → integer Lloyd rounds → bucket → probe) is
  //      hash-verified against the SQL oracle; q45/q89/q104/q111 keep
  //      the float production paths, rows-only ----
  Q("q124_ivf_portable", oracle =
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
        |FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2, rounds = 2)
  }

  // ---- similarity: IVF with SAMPLED training — the 100 TB index-build
  //      discipline: Lloyd reads only a bounded md5-ranked sample (k-means
  //      quality saturates at a few hundred points per list), assignment
  //      and probe still cover every vector; the oracle replays the
  //      sampled training verbatim ----
  Q("q262_ivf_sampled_train", oracle =
      // q262: q124's ladder with the TRAINING rounds (dist1/upd1, dist2/upd2
      // and the centroid init) restricted to the md5-ranked 128-row sample;
      // the FINAL assignment (dist3/asg3) and the probe stay corpus-wide.
      // q263 (stored-index probe) shares it: publish+probe is a physical
      // re-form of the same semantics.
      ivfSampledOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfKnnSampledTrain(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, trainRows = 128, nlist = 8, nprobe = 2, rounds = 2)
  }

  // ---- similarity: the STORED-index form of q262 — inverted lists
  //      published once as bucketed tables (the ANN counterpart of
  //      q250's LSH index), the timed work is the per-batch probe:
  //      rebuild the model-sized quantizer from _cents, join the
  //      co-located _assign lists, exact-cosine top-k ----
  Q("q263_ivf_index_probe", oracle = ivfSampledOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir)
      Similarity.ensureIvfIndex(e, "vec_id", "embedding", tbl, trainRows = 128,
        corpusFp = ivfCorpusFp(dir))
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- data-card: EMBEDDING HEALTH census per label — vector count,
  //      dimension consistency (distinct dims must be 1), mean L2 norm
  //      and near-zero-norm count (collapsed/dead vectors poison both
  //      ANN recall and cosine dedup). Per-vector norms round ONCE to
  //      integer micro-units, then integer mean via DIV — order-free,
  //      hash-exact; one projection + one hash agg ----
  Q("q305_embedding_health", oracle =
      """WITH v AS (SELECT label, len(embedding)::BIGINT AS dim,
        |  CAST(round(sqrt(list_aggregate(
        |    list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')) * 1e6)
        |    AS BIGINT) AS nu
        |  FROM embeddings)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |count(DISTINCT dim)::BIGINT AS n_dims,
        |CAST(max(dim) AS BIGINT) AS dim,
        |CAST(sum(CASE WHEN nu < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero,
        |CAST(sum(nu) // count(*) AS BIGINT) AS mean_norm_u
        |FROM v GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("label"),
          size(col("embedding")).cast("long").as("dim"),
          round(V.l2Norm(col("embedding")) * lit(1e6)).cast("long").as("__nu"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          countDistinct(col("dim")).as("n_dims"),
          max(col("dim")).as("dim"),
          sum(col("__nu")).as("__sum_nu"),
          sum(when(col("__nu") < 1000L, 1L).otherwise(0L)).as("n_near_zero"))
        .withColumn("mean_norm_u", expr("__sum_nu DIV n_vecs"))
        .select(col("label"), col("n_vecs"), col("n_dims"), col("dim"),
          col("n_near_zero"), col("mean_norm_u"))
  }

  // ---- similarity: IVF RECALL@K vs the exact brute-force ground truth
  //      — the index-quality panel that decides nlist/nprobe: both
  //      sides rank by exact cosine, so the gap is pure routing loss.
  //      Composes the two certified operators; the intersection join is
  //      (queries × k)-sized ----
  Q("q306_ivf_recall", oracle = s"""$ivfKnnOracleCtes,
        |approx AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 3),
        |bq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |bc AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
        |bflat AS (SELECT query_id, neighbor_id, unnest(qv)::DOUBLE AS x, unnest(cv)::DOUBLE AS y
        |          FROM bq, bc WHERE neighbor_id <> query_id),
        |bsims AS (SELECT query_id, neighbor_id,
        |          sum(x*y)/(sqrt(sum(x*x))*sqrt(sum(y*y))) AS cosine
        |          FROM bflat GROUP BY 1, 2),
        |br AS (SELECT query_id, neighbor_id,
        |       row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |       FROM bsims),
        |exact AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 3)
        |SELECT e.query_id, count(*)::BIGINT AS k,
        |CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
        |  // count(*) AS BIGINT) AS recall_u
        |FROM exact e LEFT JOIN approx a USING (query_id, neighbor_id)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 5)
      val exact = Similarity.bruteForceKnn(e, q, "vec_id", "embedding", 3)
        .select(col("query_id"), col("neighbor_id"))
      val approx = Similarity.ivfKnnPortable(e, q, "vec_id", "embedding",
          k = 3, nlist = 16, nprobe = 3, rounds = 2)
        .select(col("query_id"), col("neighbor_id"))
        .withColumn("__hit", lit(1L))
      exact.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          sum(coalesce(col("__hit"), lit(0L))).as("n_match"))
        .withColumn("recall_u", expr("n_match * 1000000L DIV k"))
  }

  // ---- stored IVF+PQ index (the FAISS-style production artifact):
  //      publish stores PQ CODES in bucketed inverted lists (raw
  //      vectors never touch a probe), probe routes the batch and
  //      ranks by exact integer ADC over the stored codes — training
  //      is deterministic over the same corpus, so the result is
  //      row-identical to q111's one-shot composed scan (oracle
  //      SHARED) ----
  Q("q310_pq_index_probe", oracle =
      // q310 = q111 through the STORED index (publish + probe): training is
      // deterministic over the same full corpus, so the stored-artifact path
      // must reproduce the one-shot composed scan byte-for-byte
      ivfPqOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ensurePqIndex(e, "vec_id", "embedding", pqIndexTable(dir),
        nlist = 8, m = 8, codes = 16, rounds = 2, corpusFp = ivfCorpusFp(dir))
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        pqIndexTable(dir), k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- index MAINTENANCE for the stored IVF+PQ artifact, APPEND leg
  //      (lifecycle parity with the LSH/IVF siblings q261/q264): the new
  //      batch is ROUTED under the STORED centroids and ENCODED under
  //      the STORED PQ codebooks — neither is retrained, codes are only
  //      comparable under the same books — so publish(A) + append(B) +
  //      probe ≡ one-shot composed IVF+PQ over A ∪ B trained on A,
  //      which the oracle replays verbatim (training CTEs restricted
  //      to the initially-published partial corpus) ----
  Q("q311_pq_index_append", oracle =
      // q311/q312: training restricted to the published partial corpus,
      // final assignment/encode/probe corpus-wide (see ivfPqAppendOracleSql)
      ivfPqAppendOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_app"
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendPqIndex(e.where(col("vec_id") % 5 === 0), "vec_id",
        "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- staged-commit crash semantics, PQ form (q314's discipline): the
  //      append dies between the staged codes write and the meta commit,
  //      retries under a fresh epoch — orphaned code rows stay invisible
  //      and _meta.n_rows never counts them, so the healed index answers
  //      q311's oracle VERBATIM ----
  Q("q315_pq_torn_append", oracle =
      // q315: torn PQ append + retry — probe-identical to q311 (see q314)
      ivfPqAppendOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_ptorn"
      val batch = e.where(col("vec_id") % 5 === 0)
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("pq.append.staged") {
        Similarity.appendPqIndex(batch, "vec_id", "embedding", tbl,
          newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.appendPqIndex(batch, "vec_id", "embedding", tbl,
        newCorpusFp = ivfCorpusFp(dir))
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- the COMPACTION leg: append-maintained codes-only inverted lists
  //      rewritten at the STORED bucket spec (rows, models, fingerprint
  //      unchanged; strict PQ audit post-flip) — probe-identical to
  //      q311 (same oracle); one file per bucket after compaction in
  //      StagedAppendSpec's describe case, probes at every compaction
  //      crash point in StagedAppendSpec, crash sweep in CrashSweepSpec ----
  Q("q312_pq_index_compact", oracle = ivfPqAppendOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_cmp"
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendPqIndex(e.where(col("vec_id") % 5 === 0), "vec_id",
        "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.compactPqIndex(s, tbl)
      Similarity.probePqIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- ANN index MAINTENANCE: publish over a partial corpus, APPEND the
  //      remainder under the STORED centroids (no retrain — codebooks are
  //      versioned artifacts), probe. The oracle trains over the partial
  //      corpus's sample but assigns the FULL corpus — exactly what the
  //      appended index holds ----
  Q("q264_ivf_index_append", oracle =
      // q264: same ladder, but the TRAINING SAMPLE draws only from the
      // initially-published partial corpus (appended vectors are assigned
      // under the stored centroids, never trained on) — final assignment
      // and probe stay corpus-wide
      ivfSampledOracleSql.replace(
      "smp AS (SELECT vec_id FROM embeddings ORDER BY",
      "smp AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0 ORDER BY")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_app"
      // publish drops + recreates all three tables → the query re-runs
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        tbl, trainRows = 128, corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendIvfIndex(e.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- index MAINTENANCE, the COMPACTION leg: append-maintained
  //      bucketed tables accumulate one file-set per append; compaction
  //      rewrites them at the STORED bucket spec (rows, fingerprint,
  //      hash family unchanged) — this query certifies probe-equivalence
  //      through publish → append → COMPACT → probe (oracle shared with
  //      q250/q261; file-count reduction asserted in CompactionSpec) ----
  Q("q276_lsh_index_compact", oracle =
      // q276: compaction rewrites files, never rows — probe-identical to q261
      lshProbeOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_cmp"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      Dedup.compactLshIndex(s, tbl)
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
  }

  // ---- the IVF twin: compact the appended inverted lists, probe —
  //      row-identical to q264 (same oracle) ----
  Q("q277_ivf_index_compact", oracle =
      // q277: compaction rewrites files, never rows — probe-identical to q264
      ivfSampledOracleSql.replace(
      "smp AS (SELECT vec_id FROM embeddings ORDER BY",
      "smp AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0 ORDER BY")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_cmp"
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        tbl, trainRows = 128, corpusFp = s"embeddings[%5!=0]@$dir")
      Similarity.appendIvfIndex(e.where(col("vec_id") % 5 === 0), "vec_id", "embedding",
        tbl, newCorpusFp = ivfCorpusFp(dir))
      Similarity.compactIvfIndex(s, tbl)
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }

  // ---- embeddings: LABEL PROFILE — per label: count, share, mean L2
  //      norm in integer micro-units (per-row norms rounded once →
  //      order-free integer mean): the class-balance + scale-drift panel
  //      checked before training a probe on the embedding table ----
  Q("q290_label_profile", oracle =
      // q290: per-row norms rounded once to micro-units → integer mean
      """WITH n AS (SELECT vec_id, label,
        |    round(sqrt((SELECT sum(x * x) FROM unnest(embedding::DOUBLE[]) AS u(x))) * 1e6)::BIGINT AS nu
        |  FROM embeddings),
        |tot AS (SELECT count(*)::BIGINT AS t FROM n)
        |SELECT label, count(*)::BIGINT AS n_vecs,
        |  count(*) * 1000000 // any_value(tot.t) AS share_ppm,
        |  CAST(sum(nu) AS BIGINT) // count(*) AS mean_norm_u
        |FROM n CROSS JOIN tot GROUP BY label""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
        .select(col("label"),
          round(V.l2Norm(col("embedding")) * lit(1e6)).cast("long").as("nu"))
      // the share denominator is a window-over-aggregate (Σ n_vecs over the
      // per-label rows — label-count-sized input), so the whole panel is ONE
      // job instead of a separate count() pass for the total
      e.groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"), sum(col("nu")).as("snu"))
        .withColumn("__tot",
          sum(col("n_vecs")).over(org.apache.spark.sql.expressions.Window
            .partitionBy()))
        .select(col("label"), col("n_vecs"),
          expr("n_vecs * 1000000 DIV __tot").as("share_ppm"),
          expr("snu DIV n_vecs").as("mean_norm_u"))
  }

  // ---- similarity: RP-LSH with md5 integer hyperplanes + fixed-point
  //      projections — every sign is an exact integer comparison, so the
  //      WHOLE bucketing pipeline is hash-verified against the SQL
  //      oracle (q66 keeps the gaussian production path, rows-only) ----
  Q("q123_rplsh_portable", oracle =
      """WITH hp AS (
        |  SELECT h.h, d.d,
        |    4096*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 1, 1))-1)
        |  +  256*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 2, 1))-1)
        |  +   16*(strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 3, 1))-1)
        |  +      (strpos('0123456789abcdef', substr(md5(h.h::VARCHAR || ':' || d.d::VARCHAR), 4, 1))-1)
        |  - 32768 AS r
        |  FROM (SELECT unnest(range(0, 16)) AS h) h, (SELECT unnest(range(0, 64)) AS d) d),
        |f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1048576) AS BIGINT) AS q FROM embeddings),
        |s AS (SELECT f.vec_id, hp.h, sum(f.q * hp.r) AS dot FROM f JOIN hp ON f.d = hp.d GROUP BY 1, 2),
        |buckets AS (SELECT vec_id, h // 4 AS band,
        |            CAST(sum(CASE WHEN dot > 0 THEN 1 << (h % 4) ELSE 0 END) AS BIGINT) AS bk
        |            FROM s GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |         FROM buckets a JOIN buckets b ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.vec_id < b.vec_id),
        |fl AS (SELECT vec_id, unnest(embedding)::DOUBLE AS x, generate_subscripts(embedding, 1) AS i
        |       FROM embeddings),
        |p AS (SELECT c.id_a, c.id_b,
        |      sum(a.x*b.x)/(sqrt(sum(a.x*a.x))*sqrt(sum(b.x*b.x))) AS cos
        |      FROM cand c JOIN fl a ON a.vec_id = c.id_a JOIN fl b ON b.vec_id = c.id_b AND a.i = b.i
        |      GROUP BY 1, 2)
        |SELECT id_a, id_b, round(cos, 6) AS cosine FROM p WHERE cos >= 0.4""".stripMargin) { (s, dir) =>
      Dedup.rpLshNearDupPortable(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nbits = 16, bands = 4, dim = 64)
  }

  // ---- similarity: IVF+PQ composed index (coarse routing + ADC codes —
  //      the FAISS-style production ANN shape), fixed-point flavor: the
  //      ENTIRE composed build (integer Lloyd routing + integer PQ books
  //      + bucket-restricted ADC scan) hash-verifies against the SQL
  //      oracle; the float ivfPqKnn keeps its spec coverage
  //      (PipelineSpec recall) ----
  Q("q111_knn_ivfpq", oracle =
      // q111: composed IVF+PQ — q124's integer-Lloyd routing (8 lists, 2
      // probes) gates q125's integer-ADC scan (m=8, 16 codes); candidates
      // come from probed buckets only, then exact integer ADC top-3
      ivfPqOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.ivfPqKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 8, nprobe = 2, m = 8, codes = 16, rounds = 2)
  }

  // ---- similarity: product-quantization ANN at a COARSER subspace
  //      split than q125 (m=4, 16-dim subvectors) — fixed-point subspace
  //      k-means + exact integer ADC, oracle-verified; the float pqKnn
  //      production path keeps its spec coverage (PipelineSpec recall) ----
  Q("q104_knn_pq", oracle =
      // q104: q125's fixed-point PQ at the COARSE split — m=4 (16-dim
      // subvectors, j = d // 16), same 16-code books, top-3 by integer ADC
      """WITH f AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |      CAST(floor(unnest(embedding)::DOUBLE * 1024) AS BIGINT) AS q FROM embeddings),
        |fj AS (SELECT vec_id, d, d // 16 AS j, q FROM f),
        |ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS c
        |        FROM embeddings ORDER BY vec_id LIMIT 16),
        |cb0 AS (SELECT fj.j, ids.c, fj.d, fj.q AS cv FROM ids JOIN fj USING (vec_id)),
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
        |adc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
        |        CAST(sum((q.q - b.cv)*(q.q - b.cv)) AS BIGINT) AS dist
        |        FROM fj q JOIN enc e ON e.vec_id <> q.vec_id AND e.j = q.j
        |                  JOIN cb2 b ON b.j = q.j AND b.c = e.c AND b.d = q.d
        |        WHERE q.vec_id < 5
        |        GROUP BY 1, 2),
        |r AS (SELECT query_id, neighbor_id, dist,
        |      row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank
        |      FROM adc)
        |SELECT query_id, rank, neighbor_id, dist FROM r WHERE rank <= 3""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      Similarity.pqKnnPortable(e, e.where(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, m = 4, codes = 16, rounds = 2)
  }

  // ---- similarity: label-centroid semantic-similarity matrix over
  //      the embeddings table — per-label fixed-point SUM vectors
  //      (round(v·10⁶) per element, order-free integer sums; cosine is
  //      scale-invariant so no division ever happens), pairwise cosine
  //      from decimal128 products, ONE rounded double per pair ----
  Q("q245_label_centroids", oracle =
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS dim,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 10000) AS BIGINT) AS q
        |  FROM embeddings),
        |c AS (SELECT label, dim, CAST(sum(q) AS BIGINT) AS sq FROM e GROUP BY 1, 2),
        |p AS (SELECT a.label AS label_a, b.label AS label_b,
        |    CAST(sum(CAST(a.sq AS HUGEINT) * b.sq) AS HUGEINT) AS dot,
        |    CAST(sum(CAST(a.sq AS HUGEINT) * a.sq) AS HUGEINT) AS na,
        |    CAST(sum(CAST(b.sq AS HUGEINT) * b.sq) AS HUGEINT) AS nb
        |  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
        |  GROUP BY 1, 2)
        |SELECT label_a, label_b,
        |  CASE WHEN na = 0 OR nb = 0 THEN NULL
        |    ELSE (CASE WHEN dot < 0 THEN -1 ELSE 1 END)
        |      * CAST((dot * dot * 1000000) // (na * nb) AS BIGINT)
        |  END AS cos2_ppm
        |FROM p ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      // 1e4 quantization keeps dot² and na·nb inside decimal128; the
      // output is signed SQUARED cosine in ppm — every step integer, so
      // no cross-engine double-rounding boundary exists (a rounded-double
      // cosine flipped a 6dp boundary by one ulp between engines)
      val e = t(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("dim"),
          expr("CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)").as("q"))
        .groupBy(col("label"), col("dim")).agg(sum(col("q")).as("sq"))
        .localCheckpoint(true)
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      e.as("a").join(e.as("b"),
          col("a.dim") === col("b.dim") && col("a.label") < col("b.label"))
        .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
        .agg(sum(dec(col("a.sq")) * col("b.sq")).as("__dot"),
          sum(dec(col("a.sq")) * col("a.sq")).as("__na"),
          sum(dec(col("b.sq")) * col("b.sq")).as("__nb"))
        .select(col("label_a"), col("label_b"),
          when(col("__na") === 0 || col("__nb") === 0, lit(null).cast("long"))
            .otherwise(signum(col("__dot").cast("double")).cast("long") *
              expr("CAST((__dot * __dot * 1000000) DIV (__na * __nb) AS BIGINT)"))
            .as("cos2_ppm"))
        .orderBy(col("label_a"), col("label_b"))
  }

  // ---- dedup at 100 TB, the AMORTIZED form: the corpus's minhash band
  //      buckets and shingle sets are PUBLISHED ONCE as bucketed tables
  //      (co-located by bucket key / doc id), and the incoming batch
  //      hashes only itself and probes the stored index — no corpus-side
  //      reshuffle per batch. Same md5-portable family as q113/q147, so
  //      the persisted layout itself is oracle-certified ----
  Q("q250_lsh_index_probe", oracle = lshProbeOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir)
      Dedup.ensureLshIndex(docs.where(col("doc_id") % 7 =!= 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
  }

  // ---- index MAINTENANCE: publish over a partial corpus, APPEND the
  //      remainder as an incremental batch, then probe — certifying
  //      append(publish(A), B) ≡ publish(A ∪ B): the publish pipeline is
  //      per-doc deterministic, so the appended bucketed tables are
  //      row-equal to a full republish and the probe (and its oracle,
  //      shared with q250) cannot tell the difference ----
  Q("q261_lsh_index_append", oracle =
      // q261: append(publish(A), B) must be indistinguishable from
      // publish(A∪B) at probe time — same oracle as the one-shot probe
      lshProbeOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_app"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      // publish drops + recreates all three tables, so the query is
      // re-runnable (append alone is not: the duplicate-id guard fires)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
  }

  // ---- staged-commit CRASH SEMANTICS through the oracle gate: the
  //      append is killed between the staged data writes and the meta
  //      commit, then retried under a fresh epoch — the orphaned rows
  //      stay invisible forever, so the healed index is probe-identical
  //      to q261's untorn one (oracle shared VERBATIM) ----
  Q("q314_lsh_torn_append", oracle =
      // q314: a torn (staged-crash) append retried under a fresh epoch is
      // probe-identical to q261's untorn append — same oracle verbatim
      lshProbeOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_torn"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      val batch = corpus.where(col("doc_id") % 5 === 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      graft.sources.Faults.tearAt("lsh.append.staged") {
        Dedup.appendLshIndex(batch, "doc_id", "text", tbl,
          newCorpusFp = lshCorpusFp(dir))
      }
      Dedup.appendLshIndex(batch, "doc_id", "text", tbl,
        newCorpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
  }

  // ---- the GC leg: the torn epoch is NOT retried — compaction
  //      garbage-collects the orphaned rows and the probe sees exactly
  //      the published partial corpus (oracle = the probe oracle with
  //      the corpus side restricted to the published subset) ----
  Q("q316_lsh_torn_gc", oracle = {
      // q316: a torn append that is never retried leaves the index exactly
      // at its published state (compaction GCs the orphans) — the probe
      // oracle with the corpus side restricted to the published subset
      val pattern = "AND b.doc_id % 7 != 0"
      require(lshProbeOracleSql.contains(pattern),
        "q316 oracle: lshProbeOracleSql drifted — corpus predicate not found")
      lshProbeOracleSql.replace(pattern,
        "AND b.doc_id % 7 != 0 AND b.doc_id % 5 != 0")
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_gc"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      val publishedFp = s"documents[%7!=0,%5!=0]@$dir"
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = publishedFp)
      graft.sources.Faults.tearAt("lsh.append.staged") {
        Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
          "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      }
      // compaction drops the orphaned epoch during the rewrite it pays
      // anyway; the strict post-flip audit proves the committed view
      Dedup.compactLshIndex(s, tbl)
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = publishedFp)
  }

  // ---- torn COMPACT through the oracle gate (q314-q317 cover torn
  //      APPENDs): the compaction is killed at its worst window — the
  //      rewritten epoch complete, the live meta renamed AWAY, the new
  //      meta not yet renamed in — then the compaction is simply retried:
  //      reads take the old meta meanwhile, the retry rewrites into a
  //      fresh epoch and sweeps the torn one, and the probe answers q261's
  //      oracle VERBATIM (compaction rewrites files, never rows, even
  //      across a mid-swap crash) ----
  Q("q318_lsh_torn_compact", oracle =
      // q318: a compaction killed mid-swap (live meta renamed aside, new
      // meta not yet in) then retried is probe-identical too — reads take
      // the old meta and the rewrite never changes rows
      lshProbeOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_tc"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      graft.sources.Faults.tearAt("lsh.compact.commit.aside") {
        Dedup.compactLshIndex(s, tbl)
      }
      // the retry restores the live meta from `.old`, rewrites both tables
      // into a fresh epoch, flips the meta, sweeps every other epoch and
      // runs the strict audit
      Dedup.compactLshIndex(s, tbl)
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
  }

  // ---- CROSS-SESSION recovery through the oracle gate (the last
  //      durability seam): publish + append, then put every index
  //      directory through simulateCatalogLoss (the state a JVM restart
  //      leaves: directories kept, catalog entries gone — the index has
  //      none), recoverLshIndex reads the meta, checks fingerprint and
  //      layout and runs the strict audit (nothing rewritten), and the
  //      probe answers q261's oracle VERBATIM. RecoverySpec proves the
  //      same path across a REAL SparkContext restart ----
  Q("q319_lsh_index_recover", oracle =
      // q319: recovery after a LOST CATALOG (JVM restart under the in-memory
      // catalog: directories survive, entries don't) certifies the same
      // epoch directories — the recovered index probes q261's oracle verbatim
      lshProbeOracleSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_rec"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
        "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      Seq("_buckets", "_docs", "_meta").foreach(x =>
        graft.sources.Bucketing.simulateCatalogLoss(s, tbl + x))
      // fingerprint- and layout-checked, strict-audited recovery from the
      // self-describing `_meta`
      Dedup.recoverLshIndex(s, tbl, expectedCorpusFp = lshCorpusFp(dir))
      Dedup.probeLshIndex(s, docs.where(col("doc_id") % 7 === 0), "doc_id", "text", tbl,
        corpusFp = lshCorpusFp(dir))
  }

  // ---- maintenance CENSUS through the oracle gate:
  //      tear an append between the staged data writes and the meta
  //      commit, then describeLshIndex must report EXACTLY the committed
  //      vs orphaned row/epoch split — replayed in SQL from raw text
  //      (committed = shingleable published docs, orphan = the torn
  //      batch, band rows = bands × doc rows by construction) ----
  Q("q320_lsh_epoch_census", oracle =
      // q320: the maintenance census after a torn append — committed rows =
      // the shingleable published subset (docs with ≥3 words), orphans = the
      // torn batch, band rows = 4 bands × doc rows by construction
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id FROM w WHERE len(w) >= 3),
        |pub AS (SELECT count(*) AS n FROM sh WHERE doc_id % 7 != 0 AND doc_id % 5 != 0),
        |orp AS (SELECT count(*) AS n FROM sh WHERE doc_id % 7 != 0 AND doc_id % 5 = 0)
        |SELECT 'buckets' AS tbl,
        |  CAST(4 * pub.n AS BIGINT) AS rows_committed,
        |  CAST(4 * orp.n AS BIGINT) AS rows_orphan,
        |  CAST(1 AS BIGINT) AS orphan_epochs,
        |  CAST(1 AS BIGINT) AS committed_epochs
        |FROM pub, orp
        |UNION ALL
        |SELECT 'docs', CAST(pub.n AS BIGINT), CAST(orp.n AS BIGINT),
        |  CAST(1 AS BIGINT), CAST(1 AS BIGINT)
        |FROM pub, orp""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tbl = lshIndexTable(dir) + "_cen"
      val corpus = docs.where(col("doc_id") % 7 =!= 0)
      Dedup.publishLshIndex(corpus.where(col("doc_id") % 5 =!= 0),
        "doc_id", "text", tbl, corpusFp = s"documents[%7!=0,%5!=0]@$dir")
      graft.sources.Faults.tearAt("lsh.append.staged") {
        Dedup.appendLshIndex(corpus.where(col("doc_id") % 5 === 0),
          "doc_id", "text", tbl, newCorpusFp = lshCorpusFp(dir))
      }
      // `files` is physical layout (not SQL-replayable); the census proper
      // — committed/orphan rows and epoch counts — goes through the oracle
      Dedup.describeLshIndex(s, tbl)
        .withColumn("tbl", element_at(split(col("table"), "_"), -1))
        .select(col("tbl"), col("rows_committed"), col("rows_orphan"),
          col("orphan_epochs"), col("committed_epochs"))
  }

  // ---- the census matrix completed for the ANN side:
  //      describeIvfIndex after a torn vector append — the inverted
  //      lists hold exactly one committed assignment row per published
  //      vector and one orphan row per torn-batch vector, replayed in
  //      SQL as plain counts over the embeddings table ----
  Q("q321_ivf_epoch_census", oracle =
      // q321/q322: the ANN census twins — IVF and PQ inverted lists both
      // carry exactly one assignment row per vector, so committed = the
      // published subset's count and orphan = the torn batch's count, as
      // plain counts (same replay for both families)
      annCensusOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_cen"
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0),
        "vec_id", "embedding", tbl, trainRows = 128,
        corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("ivf.append.staged") {
        Similarity.appendIvfIndex(e.where(col("vec_id") % 5 === 0),
          "vec_id", "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.describeIvfIndex(s, tbl)
        .withColumn("tbl", element_at(split(col("table"), "_"), -1))
        .select(col("tbl"), col("rows_committed"), col("rows_orphan"),
          col("orphan_epochs"), col("committed_epochs"))
  }

  // ---- census matrix, PQ leg: describePqIndex reports the same
  //      one-assignment-row-per-vector invariant over the codes-only
  //      inverted lists — all three index families' censuses now go
  //      through the oracle gate (LSH q320, IVF q321, PQ here) ----
  Q("q322_pq_epoch_census", oracle = annCensusOracleSql) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = pqIndexTable(dir) + "_cen"
      Similarity.publishPqIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id",
        "embedding", tbl, nlist = 8, m = 8, codes = 16, rounds = 2,
        corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("pq.append.staged") {
        Similarity.appendPqIndex(e.where(col("vec_id") % 5 === 0),
          "vec_id", "embedding", tbl, newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.describePqIndex(s, tbl)
        .withColumn("tbl", element_at(split(col("table"), "_"), -1))
        .select(col("tbl"), col("rows_committed"), col("rows_orphan"),
          col("orphan_epochs"), col("committed_epochs"))
  }

  // ---- staged-commit crash semantics, IVF form — completes the torn-
  //      append oracle matrix (LSH q314, PQ q315, IVF here): the append
  //      dies between the staged vector write and the meta commit,
  //      retries under a fresh epoch, and the healed index answers
  //      q264's oracle VERBATIM ----
  Q("q317_ivf_torn_append", oracle =
      // q317: torn IVF append + retry — the orphaned epoch stays invisible,
      // so the healed index is probe-identical to q264's untorn append
      ivfSampledOracleSql.replace(
      "smp AS (SELECT vec_id FROM embeddings ORDER BY",
      "smp AS (SELECT vec_id FROM embeddings WHERE vec_id % 5 != 0 ORDER BY")) { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val tbl = ivfIndexTable(dir) + "_vtorn"
      val batch = e.where(col("vec_id") % 5 === 0)
      Similarity.publishIvfIndex(e.where(col("vec_id") % 5 =!= 0), "vec_id", "embedding",
        tbl, trainRows = 128, corpusFp = s"embeddings[%5!=0]@$dir")
      graft.sources.Faults.tearAt("ivf.append.staged") {
        Similarity.appendIvfIndex(batch, "vec_id", "embedding", tbl,
          newCorpusFp = ivfCorpusFp(dir))
      }
      Similarity.appendIvfIndex(batch, "vec_id", "embedding", tbl,
        newCorpusFp = ivfCorpusFp(dir))
      Similarity.probeIvfIndex(s, e.where(col("vec_id") < 5), "vec_id", "embedding",
        tbl, k = 3, nprobe = 2, corpusFp = ivfCorpusFp(dir))
  }
}
